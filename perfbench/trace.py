"""The traced run's instruments, all outside the library.

- ``Tracer`` records spans around calls into the library's public entry
  points by wrapping them from here (``install``), so the library itself
  is unchanged.
- ``ProgressListener`` collects ``StreamingQueryProgress`` events.
- ``read_event_log`` parses the Spark event log offline into jobs with
  their task totals.
- ``catalyst_phases`` reads the ``QueryExecution`` tracker.

Every timestamp is wall-clock seconds since the epoch, the clock the
event log uses, so spans and jobs line up.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span store; written out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    def record(self, name: str, start: float, end: float, **attrs) -> Span:
        s = Span(name, start, end, attrs)
        self.spans.append(s)
        return s

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def wrap(self, owner: object, attr: str, name: str, before=None, after=None,
             when=None) -> None:
        """Replace ``owner.attr`` with a version that records a span
        ``name`` per call for which ``when(args, kwargs)`` holds (every
        call by default). ``before(args, kwargs)`` may return state that
        is handed to ``after(span, state, args, kwargs, result)``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if when is not None and not when(args, kwargs):
                return orig(*args, **kwargs)
            state = before(args, kwargs) if before else None
            t0 = time.time()
            try:
                result = orig(*args, **kwargs)
            finally:
                span = self.record(name, t0, time.time())
            if after:
                after(span, state, args, kwargs, result)
            return result

        self.replace(owner, attr, traced)

    def replace(self, owner: object, attr: str, value: object) -> None:
        """Set ``owner.attr`` until ``uninstall``."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event of every query as a dict."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that write one uncompressed event log file."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Job:
    job_id: int
    start: float
    end: float = 0.0
    batch_id: int | None = None
    query_id: str | None = None
    execution_id: int | None = None
    root_execution_id: int | None = None
    writes_files: bool = False
    stages: list[int] = field(default_factory=list)
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    python_bytes_sent: int = 0
    python_bytes_received: int = 0


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs of the (single) application logged under ``log_dir``, with
    their tasks' metrics summed."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    writes: set[int] = set()
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith("SQLExecutionStart"):
                if "InsertIntoHadoopFsRelationCommand" in e.get("physicalPlanDescription", ""):
                    writes.add(e["executionId"])
            elif ev == "SparkListenerJobStart":
                p = e.get("Properties") or {}
                j = Job(e["Job ID"], e["Submission Time"] / 1000.0)
                if "streaming.sql.batchId" in p:
                    j.batch_id = int(p["streaming.sql.batchId"])
                    j.query_id = p.get("sql.streaming.queryId")
                if "spark.sql.execution.id" in p:
                    j.execution_id = int(p["spark.sql.execution.id"])
                    j.root_execution_id = int(p.get("spark.sql.execution.root.id", j.execution_id))
                j.stages = list(e.get("Stage IDs", []))
                for s in j.stages:
                    stage_job[s] = j.job_id
                jobs[j.job_id] = j
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(e["Stage ID"], -1))
                m = e.get("Task Metrics")
                if j is None or not m:
                    continue
                j.run_s += m["Executor Run Time"] / 1000.0
                j.cpu_s += m["Executor CPU Time"] / 1e9
                j.gc_s += m["JVM GC Time"] / 1000.0
                sr = m["Shuffle Read Metrics"]
                j.shuffle_read_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                j.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                j.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                j.input_bytes += m["Input Metrics"]["Bytes Read"]
                for a in e["Task Info"].get("Accumulables", []):
                    name = a.get("Name")
                    if name == _PY_SENT:
                        j.python_bytes_sent += int(a.get("Update", 0))
                    elif name == _PY_RECV:
                        j.python_bytes_received += int(a.get("Update", 0))
    for j in jobs.values():
        j.writes_files = j.execution_id in writes
        if not j.end:
            j.end = j.start
    return sorted(jobs.values(), key=lambda j: j.start)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning seconds of ``df``'s
    QueryExecution. ``executedPlan`` is forced first: until then the
    tracker has recorded only analysis."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out
