"""Span recorder and Spark counters for the traced run.

Spans are kept in memory and written once, at the end of the run. Each
span has a name, start and end (``time.perf_counter`` seconds), the id
of the span that caused it and a request id shared by every span of one
query execution, sync pass or serve request. A disabled tracer records
nothing and touches no Spark state, so the untraced run measures the
program alone.

Counters come from the same boundaries: a job group per layer call read
back through ``statusTracker()``, Catalyst phase times from the
DataFrame's ``QueryExecution`` tracker, and the driver JVM's peak RSS.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from stats import self_time


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 parent.id if parent else None, request)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        return {
            s.id: self_time(s.start, s.end, children.get(s.id, []))
            for s in self.spans
        }

    def write(self, path: str, summary: dict) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump({
                "summary": summary,
                "spans": [dict(asdict(s), self_s=selfs[s.id]) for s in self.spans],
            }, f, indent=1)


class SparkCounters:
    """Job, stage and task counts per job group, plus Catalyst phases."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self._groups = 0

    def start(self) -> str:
        self._groups += 1
        group = f"perfbench-{self._groups}"
        self.sc.setJobGroup(group, group)
        return group

    def jobs(self, group: str) -> dict:
        jobs = stages = tasks = 0
        for jid in self.status.getJobIdsForGroup(group):
            info = self.status.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self.status.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @staticmethod
    def phases(df) -> dict:
        """Catalyst analysis/optimization/planning milliseconds of the
        DataFrame's executed QueryExecution."""
        out = {}
        phases = df._jdf.queryExecution().tracker().phases()  # a Scala Map
        for name in ("analysis", "optimization", "planning"):
            found = phases.get(name)
            if found.isDefined():
                ph = found.get()
                out[name] = float(ph.endTimeMs() - ph.startTimeMs())
            else:
                out[name] = 0.0
        return out

    def jvm_peak_rss_mb(self) -> float:
        pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0
