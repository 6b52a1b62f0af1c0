"""Measurement from outside the engine: spans, Spark job-group counters,
the process-tree RSS sampler and the uncompressed event-log parser.

Nothing here changes what the engine runs. Spans wrap calls into the
engine's public functions; counts come from Spark's status tracker for the
job groups the benchmark sets, and from the event log Spark writes when
the session conf enables it.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans in memory. A disabled tracer records nothing and sets
    no job group, so untraced runs make the same engine calls as a user."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.trace_id = "setup"

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        """Time one call. ``group`` also tags the Spark jobs it starts with
        ``setJobGroup(<workload>:<trace id>:<group>)`` and records the job,
        stage and task counts of that group on the span."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        job_group = f"{self.workload}:{self.trace_id}:{group}" if group else None
        if job_group:
            sc.setJobGroup(job_group, job_group)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.trace_id, dict(attrs))
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if job_group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                s.attrs["job_group"] = job_group
                s.attrs.update(job_counts(sc, job_group))

    def total(self, name: str, key: str | None = None) -> float:
        """Sum of durations (or of attribute ``key``) over spans named
        ``name``."""
        spans = [s for s in self.spans if s.name == name]
        if key is None:
            return sum(s.end - s.start for s in spans)
        return sum(s.attrs.get(key, 0) for s in spans)


def job_counts(sc, job_group: str) -> dict:
    """Jobs, stages that ran, and their tasks for one job group, from the
    status tracker."""
    # The tracker is fed asynchronously by the listener bus; without the
    # wait, the last stage of an action can still read as not started.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(job_group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
                stages += 1
                tasks += st.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


# ---------------------------------------------------------------------------
# Process-tree RSS
# ---------------------------------------------------------------------------


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants: the driver Python
    process, the driver JVM it launched and the Python workers the JVM
    forks."""
    kids = children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Samples :func:`tree_rss_bytes` of this process every ``period`` s on
    a thread while the ``with`` block runs; ``peak`` is the maximum."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.period):
                break

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

# SQL plan nodes that cross the Python worker boundary.
PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "PythonMapInArrow", "ArrowEvalPython",
    "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas",
)


def _walk_plan(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk_plan(child)


def parse_event_log(path: str, job_group_prefix: str, cores: int,
                    window: tuple[float, float]) -> dict:
    """Stage, task and Python-boundary metrics of the jobs whose group
    starts with ``job_group_prefix``, from one uncompressed JSON-lines
    event log. ``window`` is the (start, end) wall-clock epoch seconds of
    the measured pass, for parallel efficiency and driver-only time."""
    stage_job_group: dict[int, str] = {}
    tasks_by_stage: dict[int, list[float]] = defaultdict(list)
    intervals: list[tuple[float, float]] = []
    python_accums: dict[int, tuple[str, str]] = {}  # accumulator id -> (name, type)
    accum_totals: dict[int, float] = defaultdict(float)
    out = defaultdict(float)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                for sid in ev.get("Stage IDs", ()):
                    stage_job_group[sid] = group
            elif kind in (
                "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
            ):
                for node in _walk_plan(ev.get("sparkPlanInfo") or {}):
                    if node.get("nodeName", "").split(" ")[0] in PYTHON_NODES:
                        for m in node.get("metrics", ()):
                            python_accums[m["accumulatorId"]] = (m["name"], m["metricType"])
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if not stage_job_group.get(sid, "").startswith(job_group_prefix):
                    continue
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
                tasks_by_stage[sid].append(max(0, finish - launch) / 1000)
                intervals.append((launch / 1000, finish / 1000))
                out["task_run_s"] += m.get("Executor Run Time", 0) / 1000
                out["gc_s"] += m.get("JVM GC Time", 0) / 1000
                sr = m.get("Shuffle Read Metrics") or {}
                out["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 2**20
                sw = m.get("Shuffle Write Metrics") or {}
                out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                out["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
                if info.get("Attempt", 0) > 0 or info.get("Failed"):
                    out["task_retries"] += 1
                for acc in info.get("Accumulables", ()):
                    if acc.get("ID") in python_accums:
                        try:
                            accum_totals[acc["ID"]] += float(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            pass
    start, end = window
    wall = max(end - start, 1e-9)
    out["parallel_efficiency"] = out["task_run_s"] / (wall * cores)
    out["driver_only_s"] = wall - _covered(intervals, start, end)
    skews = [
        max(d) / statistics.median(d)
        for d in tasks_by_stage.values()
        if len(d) >= 2 and statistics.median(d) > 0
    ]
    out["max_task_skew"] = max(skews, default=1.0)
    for acc_id, total in accum_totals.items():
        name, kind = python_accums[acc_id]
        if kind == "timing":  # start + initialise + run the Python workers
            out["python_udf_time_s"] += total / 1e3
        elif kind == "nsTiming":
            out["python_udf_time_s"] += total / 1e9
        elif name == "number of output rows":
            out["python_udf_rows"] += total
    return dict(out)


def _covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of ``intervals`` clipped to [start, end]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
