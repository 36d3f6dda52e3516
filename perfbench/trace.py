"""Spans and Spark stage metrics for the traced run.

Spans are recorded from the benchmark process only: ``wrap`` replaces a
module attribute (a function the pipeline calls by that name) with a
wrapper that opens a span around each call.  Every span runs its jobs
under its own Spark job group, so the stages each span launched can be
read back from the driver's status store afterwards; that works with the
UI disabled.  Spans stay in memory until ``dump`` writes them out.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field

from . import procstat


@dataclass
class Span:
    id: int
    name: str
    run: str                  # the pass this span belongs to
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""           # Spark job group of the span's own jobs
    # "cpu": tree CPU seconds; "read": bytes the driver JVM read
    info: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it that child spans cover
    (overlapping children are merged, so no interval counts twice)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for k in sorted(kids.get(s.id, ()), key=lambda k: k.start):
            a, b = max(k.start, s.start), min(k.end, s.end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.id] = s.wall - covered
    return out


class Tracer:
    def __init__(self, sc, run_prefix: str, jvm_pid: int | None = None):
        self.sc = sc
        self.jvm_pid = jvm_pid
        self.prefix = run_prefix
        self.spans: list[Span] = []
        self.run = ""
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.run,
                 parent.id if parent else None, 0.0)
        s.group = f"{self.prefix}/{self.run}/{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        cpu0 = procstat.tree_cpu_seconds()
        read0 = procstat.read_bytes(self.jvm_pid) if self.jvm_pid else 0
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.info["cpu"] = procstat.tree_cpu_seconds() - cpu0
            if self.jvm_pid:
                s.info["read"] = procstat.read_bytes(self.jvm_pid) - read0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, module, attr: str) -> None:
        """Record a span around every call of ``module.attr``."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(attr):
                return fn(*args, **kwargs)

        traced.__wrapped_by_tracer__ = fn
        setattr(module, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def unwrap(module, attr: str) -> None:
    fn = getattr(module, attr)
    setattr(module, attr, getattr(fn, "__wrapped_by_tracer__", fn))


# inputBytes is left out: with the vectored parquet reads of this Spark
# build it counts only the footers (the JVM's rchar shows the full scan)
STAGE_FIELDS = ("executorRunTime", "executorCpuTime",
                "shuffleReadBytes", "shuffleWriteBytes",
                "memoryBytesSpilled", "diskBytesSpilled", "jvmGcTime",
                "numCompleteTasks")


class StageReader:
    """Per-stage task metrics from the driver's status store, by job
    group.  Times are milliseconds except executorCpuTime (ns)."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self.tracker = sc.statusTracker()

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def stage_ids(self, job_ids) -> list[int]:
        out: set[int] = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                out.update(int(s) for s in info.stageIds)
        return sorted(out)

    def stage(self, sid: int) -> dict:
        s = self.store.lastStageAttempt(sid)
        row = {k: int(getattr(s, k)()) for k in STAGE_FIELDS}
        row["id"] = sid
        row["attempt"] = int(s.attemptId())
        row["status"] = s.status().toString()
        return row

    def stages(self, groups) -> list[dict]:
        jobs = [j for g in groups for j in self.jobs(g)]
        return [self.stage(sid) for sid in self.stage_ids(jobs)]

    def task_quantiles(self, sid: int, attempt: int, qs=(0.5, 1.0)):
        """executorRunTime quantiles (ms) of one stage attempt's tasks."""
        gw = self.sc._gateway
        arr = gw.new_array(gw.jvm.double, len(qs))
        for i, q in enumerate(qs):
            arr[i] = q
        d = self.store.taskSummary(sid, attempt, arr)
        if not d.isDefined():
            return None
        rt = d.get().executorRunTime()
        return [float(rt.apply(i)) for i in range(len(qs))]


def totals(stages: list[dict]) -> dict:
    return {k: sum(s[k] for s in stages) for k in STAGE_FIELDS}
