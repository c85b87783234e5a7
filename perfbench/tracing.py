"""Spans around public calls, attributed to Spark's own job accounting.

Only the traced run (``--trace 1``) uses this.  Each call runs under its
own Spark job group (``setJobGroup``), so ``statusTracker`` gives the
exact number of jobs it started, and the event log, enabled through
``get_spark(extra_conf=...)``, gives each job's wall interval and its
tasks' executor CPU, GC, spill and shuffle-write figures.  Spans are
kept in memory and joined with the event log after ``spark.stop()``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass, field

EVENTLOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work",
                        "eventlog")


def eventlog_conf() -> dict:
    shutil.rmtree(EVENTLOG, ignore_errors=True)
    os.makedirs(EVENTLOG)
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + EVENTLOG,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


@dataclass
class Span:
    name: str
    group: str
    start: float            # epoch seconds
    end: float = 0.0
    cpu_s: float = 0.0      # process-tree CPU during the span
    jobs: int = 0           # statusTracker job count for the group
    rows_out: int = 0
    extra: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Job group per span; a disabled tracer only times."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._n = 0

    def begin(self, name: str) -> Span:
        self._n += 1
        group = f"{name}#{self._n}"
        if self.enabled:
            self.sc.setJobGroup(group, f"perfbench {name}")
        return Span(name, group, time.time())

    def end(self, span: Span) -> Span:
        span.end = time.time()
        if self.enabled:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            span.jobs = len(self.sc.statusTracker()
                            .getJobIdsForGroup(span.group))
        self.spans.append(span)
        return span


@dataclass
class GroupStats:
    intervals: list = field(default_factory=list)   # (start, end) epoch s
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    failed_tasks: int = 0


def parse_eventlog() -> dict[str, GroupStats]:
    """Job group -> aggregated job and task figures from the event log."""
    files = [p for p in glob.glob(os.path.join(EVENTLOG, "**"), recursive=True)
             if os.path.isfile(p) and "appstatus" not in os.path.basename(p)]
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, GroupStats] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    out.setdefault(g, GroupStats())
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        out[job_group[jid]].intervals.append(
                            (job_start[jid], ev["Completion Time"] / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    st = out[g]
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        st.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    st.spill_mb += (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0)) / 2**20
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_mb += sw.get("Shuffle Bytes Written",
                                                  0) / 2**20
    return out


def uncovered_s(start: float, end: float, intervals) -> float:
    """Part of [start, end] covered by no job interval: driver-side time."""
    covered, cur = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, end)
        if b > a:
            covered += b - a
            cur = b
    return max(0.0, (end - start) - covered)
