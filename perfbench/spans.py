"""Tracing for the traced run: spans recorded around the benchmark's own
calls into each engine module, plus Spark's own counts read from outside the
program after the timed window.

Spans stay in memory until the run ends. Each has a name, a start, an end, a
parent and the id of the operation it belongs to. Spark figures come from
``statusTracker()`` and the status store, which work with the UI disabled,
and from a ``StreamingQueryListener`` for micro-batch progress.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    sid: int
    parent: int | None
    op: str
    name: str
    start: float  # wall clock, seconds since the epoch, comparable to Spark's job times
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while enabled. Disabled, it records nothing and costs
    one branch."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            parent=parent.sid if parent else None,
            op=op if op is not None else (parent.op if parent else ""),
            name=name,
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(s.start, s.end) for s in self.spans if s.parent == span.sid]
        return span.seconds - covered(kids, span.start, span.end)

    def dump(self) -> list[dict]:
        return [{**asdict(s), "self_s": self.self_seconds(s)} for s in self.spans]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class SparkJob:
    job_id: int
    group: str
    submitted: float  # seconds since the epoch
    completed: float
    stages: int
    tasks: int
    failed_tasks: int
    exec_run_s: float
    exec_cpu_s: float
    input_mb: float
    shuffle_read_mb: float
    shuffle_write_mb: float
    spill_mb: float


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def spark_jobs(spark, groups: list[str]) -> list[SparkJob]:
    """Every Spark job of the given job groups, with the stage figures of
    the stages that ran. One client runs one operation at a time, so the
    jobs of an operation are exactly those of its group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    mb = 1024 * 1024
    out = []
    for group in groups:
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            fig = defaultdict(float)
            for sid in _seq(jd.stageIds()):
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # no longer retained by the status store
                if sd.status().toString() == "SKIPPED":
                    continue  # its output was reused from an earlier job
                fig["stages"] += 1
                fig["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                fig["failed"] += sd.numFailedTasks()
                fig["run_ms"] += sd.executorRunTime()
                fig["cpu_ns"] += sd.executorCpuTime()
                fig["in"] += sd.inputBytes()
                fig["sr"] += sd.shuffleReadBytes()
                fig["sw"] += sd.shuffleWriteBytes()
                fig["spill"] += sd.diskBytesSpilled()
            submitted = sub.get().getTime() / 1000 if sub.isDefined() else 0.0
            out.append(
                SparkJob(
                    job_id=jid,
                    group=group,
                    submitted=submitted,
                    completed=comp.get().getTime() / 1000 if comp.isDefined() else submitted,
                    stages=int(fig["stages"]),
                    tasks=int(fig["tasks"]),
                    failed_tasks=int(fig["failed"]),
                    exec_run_s=fig["run_ms"] / 1000,
                    exec_cpu_s=fig["cpu_ns"] / 1e9,
                    input_mb=fig["in"] / mb,
                    shuffle_read_mb=fig["sr"] / mb,
                    shuffle_write_mb=fig["sw"] / mb,
                    spill_mb=fig["spill"] / mb,
                )
            )
    return out


def jobs_in(jobs: list[SparkJob], span: Span, group: str) -> list[SparkJob]:
    """Jobs of ``group`` submitted inside ``span``."""
    return [j for j in jobs if j.group == group and span.start <= j.submitted <= span.end]


def driver_gap_s(span: Span, jobs: list[SparkJob]) -> float:
    """Time inside ``span`` that no Spark job covers."""
    return span.seconds - covered([(j.submitted, j.completed) for j in jobs], span.start, span.end)


class StreamProgress(StreamingQueryListener):
    """Collects every micro-batch progress report, keyed by query name."""

    def __init__(self) -> None:
        self.run_ids: dict[str, str] = {}
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self._names: dict[str, str] = {}
        self._ended: set[str] = set()
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cond:
            self.run_ids[event.name] = str(event.runId)
            self._names[str(event.runId)] = event.name

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._cond:
            self.progress[p["name"]].append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self._ended.add(str(event.runId))
            self._cond.notify_all()

    def wait_ended(self, names: list[str], timeout: float) -> bool:
        """Block until every named query has reported its termination; the
        listener bus delivers events after the query itself has stopped."""
        deadline = time.time() + timeout
        with self._cond:
            while True:
                ended = {self._names.get(r) for r in self._ended}
                if all(n in ended for n in names):
                    return True
                left = deadline - time.time()
                if left <= 0:
                    return False
                self._cond.wait(left)
