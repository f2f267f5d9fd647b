"""Spans and Spark-side accounting for the traced benchmark run.

Everything here observes the engine from outside: spans are recorded
around calls into the package's public functions, Catalyst phase times
come from each DataFrame's ``QueryPlanningTracker``, and job, stage and
task metrics come from the Spark event log, attributed to operations
through the job group the benchmark sets before each call
(``<op>/<part>``, e.g. ``q17/build``, ``p3/traces``, ``r40/collect``).

Times are epoch milliseconds so Python spans and event-log timestamps
share one clock.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


def now_ms() -> float:
    return time.time_ns() / 1e6


def union_ms(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


# ---- Catalyst ---------------------------------------------------------


def catalyst_phases(df) -> dict[str, tuple[float, float]]:
    """``{phase: (start_ms, end_ms)}`` from the DataFrame's planning
    tracker (analysis at construction, optimization and planning at the
    first action)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        summary = kv._2()
        out[kv._1()] = (float(summary.startTimeMs()), float(summary.endTimeMs()))
    return out


# ---- event log --------------------------------------------------------


@dataclass
class Job:
    group: str | None
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class ExecTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0
    jvm_gc_ms: float = 0.0
    input_bytes: float = 0.0
    output_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def read_event_log(path: str) -> tuple[dict[int, Job], dict[str, ExecTotals]]:
    """Parse an uncompressed event log into jobs (with job group and
    wall interval) and per-group executor totals. Stages and tasks are
    attributed to the job group of the job that submitted them."""
    jobs: dict[int, Job] = {}
    stage_group: dict[int, str | None] = {}
    totals: dict[str, ExecTotals] = defaultdict(ExecTotals)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                job = Job(group, float(ev["Submission Time"]), stages=list(ev.get("Stage IDs", [])))
                jobs[ev["Job ID"]] = job
                for sid in job.stages:
                    stage_group[sid] = group
                if group is not None:
                    totals[group].jobs += 1
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = float(ev["Completion Time"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group is not None:
                    totals[group].stages += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                t = totals[group]
                t.tasks += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    t.failed_tasks += 1
                m = ev.get("Task Metrics") or {}
                t.executor_run_ms += m.get("Executor Run Time", 0)
                t.executor_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                t.jvm_gc_ms += m.get("JVM GC Time", 0)
                t.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                t.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                t.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                t.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return jobs, totals
