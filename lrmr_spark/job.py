"""Job handles: attached results + detached background jobs.

Replaces the reference's etcd-backed detached job tracking
(/root/reference/job/manager_distributed.go:35-120,
/root/reference/running_job.go:33-202) with an in-process registry over
Spark job groups (``status`` / ``wait`` / ``abort`` / ``metrics``
parity) PLUS a checkpoint file per job: every status transition is
written atomically to ``$LRMR_SPARK_JOB_DIR/<job_id>.json``, so any
process can attach by job ID and watch status/metrics — the analogue of
the reference's "any client can watch via etcd"
(/root/reference/job/manager_distributed.go:25-33). On a cluster, point
LRMR_SPARK_JOB_DIR at shared storage (NFS/S3-fuse) and the same
contract holds; abort remains owner-process-only (Spark job groups are
per-SparkContext).
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation

__all__ = [
    "Result",
    "JobHandle",
    "StreamingJobHandle",
    "DetachedJobView",
    "start_background",
    "start_background_stream",
    "get_job",
    "list_jobs",
]

_JOB_DIR = os.environ.get("LRMR_SPARK_JOB_DIR", "/root/repo/.jobs")


def _checkpoint_path(job_id: str) -> str:
    return os.path.join(_JOB_DIR, f"{job_id}.json")


def _write_checkpoint(job_id: str, payload: dict) -> None:
    """Atomic write (tmp + rename) so attached readers never see a
    torn file."""
    os.makedirs(_JOB_DIR, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=_JOB_DIR, prefix=f".{job_id}.")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, _checkpoint_path(job_id))
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise

# job statuses mirror /root/reference/job/status.go:11-18
RUNNING = "running"
SUCCEEDED = "succeeded"
FAILED = "failed"
ABORTED = "aborted"

_registry: dict[str, "_BackgroundJob"] = {}
_registry_lock = threading.Lock()


@dataclass
class Result:
    """Attached-run result (mirror of /root/reference/driver/result.go:19-37)."""

    rows: list[Any]
    metrics: dict[str, Any] = field(default_factory=dict)

    def outputs(self):
        return iter(self.rows)


class _BackgroundJob:
    """The lifecycle both detached handles share: the status book,
    the checkpoint file and ``status`` / ``error`` / ``metrics`` /
    ``wait`` / ``abort``. A subclass supplies how the job executes
    (``_execute``, on the handle's thread) and how it is cancelled
    (``_cancel``)."""

    _rows: list[Any] | None = None
    _payload_extra: dict = {}

    def __init__(self, job_id: str):
        self.job_id = job_id
        self._status = RUNNING
        self._error: BaseException | None = None
        self._metrics: dict[str, Any] = {}
        self._done = threading.Event()
        self._finished_at: float | None = None
        self._started_at = time.time()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._checkpoint()

    def _execute(self) -> None:
        raise NotImplementedError

    def _cancel(self) -> None:
        raise NotImplementedError

    def _checkpoint(self) -> None:
        """Publish status/metrics for cross-process attach (the etcd
        analogue). Failures to write never fail the job itself."""
        try:
            _write_checkpoint(
                self.job_id,
                {
                    "job_id": self.job_id,
                    "status": self._status,
                    "started_at": self._started_at,
                    "finished_at": self._finished_at,
                    "metrics": {k: repr(v) if not isinstance(v, (int, float, str, bool, type(None))) else v
                                for k, v in self._metrics.items()},
                    "error": repr(self._error) if self._error else None,
                    "n_rows": len(self._rows) if self._rows is not None else None,
                    **self._payload_extra,
                },
            )
        except OSError:
            pass

    def _run(self) -> None:
        try:
            self._execute()
            if self._status == RUNNING:
                self._status = SUCCEEDED
        except BaseException as exc:  # surfaced via .error / .wait
            if self._status != ABORTED:
                self._status = FAILED
                self._error = exc
        finally:
            # publish the FINAL checkpoint before releasing waiters: a
            # wait()er attaching a DetachedJobView the instant wait()
            # returns must never read a stale 'running' file
            self._finished_at = time.time()
            self._checkpoint()
            self._done.set()

    # -- mirror of running_job.go:79-143 ------------------------------
    @property
    def status(self) -> str:
        return self._status

    @property
    def error(self) -> BaseException | None:
        return self._error

    def metrics(self) -> dict[str, Any]:
        return dict(self._metrics)

    def wait(self, timeout: float | None = None):
        """Block until the job finishes (or ``timeout`` passes)."""
        self._done.wait(timeout)
        return self

    def abort(self) -> None:
        if not self._done.is_set():
            self._status = ABORTED
            self._cancel()
            self._checkpoint()


def _start(handle: _BackgroundJob) -> None:
    with _registry_lock:
        _registry[handle.job_id] = handle
    handle._thread.start()


class JobHandle(_BackgroundJob):
    """Detached job (mirror of the reference's running_job.go:33-77)."""

    def __init__(self, job_id: str, df: DataFrame, observations: list[Observation]):
        self._df = df
        self._observations = observations
        self._spark = df.sparkSession
        super().__init__(job_id)

    def _execute(self) -> None:
        sc = self._spark.sparkContext
        sc.setJobGroup(self.job_id, f"lrmr-spark background job {self.job_id}", True)
        try:
            self._rows = self._df.collect()
            for obs in self._observations:
                self._metrics.update(obs.get)
        finally:
            # the registry keeps this handle for the process's lifetime;
            # a JVM Dataset still referenced from here would pin the
            # job's shuffle files, which ContextCleaner frees only once
            # nothing references the plan
            self._df = self._observations = None

    def _cancel(self) -> None:
        """Cooperative cancel via the Spark job group (the analogue of
        the reference's cluster-wide etcd abort event, running_job.go:
        152-194)."""
        self._spark.sparkContext.cancelJobGroup(self.job_id)

    def result(self) -> Result:
        self.wait()
        if self._status != SUCCEEDED:
            raise RuntimeError(f"job {self.job_id} {self._status}") from self._error
        return Result(rows=self._rows or [], metrics=self.metrics())


def start_background(
    job_id: str, df: DataFrame, observations: list[Observation]
) -> JobHandle:
    handle = JobHandle(job_id, df, observations)
    _start(handle)
    return handle


class StreamingJobHandle(_BackgroundJob):
    """Detached CONTINUOUS job over a Structured Streaming query — the
    RunInBackground mapping for streams (the reference's detached jobs
    are long-running by design: /root/reference/running_job.go:33-77
    tracks a job until the cluster reports completion or abort, and
    clients attach by id — a streaming query IS that continuous job on
    Spark). Same surface as JobHandle: ``status`` / ``wait`` /
    ``abort`` / ``metrics`` / cross-process attach via the same
    checkpoint files (DetachedJobView works unchanged).

    Status mapping: RUNNING while the query is active; SUCCEEDED when
    it terminates cleanly (an ``availableNow``/``once`` trigger
    draining, or an external ``query.stop()``); FAILED when it
    terminates with a StreamingQueryException; ABORTED via
    ``abort()`` (the job-group-cancel analogue — for a stream the
    cooperative cancel IS ``stop()``, which lets the in-flight
    micro-batch commit so the sink stays exactly-once and a restart
    from the same checkpointLocation resumes cleanly — asserted in
    tests). Metrics publish the last committed micro-batch id and
    cumulative input rows from the query's progress feed."""

    _payload_extra = {"streaming": True}

    def __init__(self, job_id: str, query):
        self._query = query
        self._seen_batches: set[int] = set()
        super().__init__(job_id)

    def _refresh_metrics(self) -> None:
        try:
            for p in self._query.recentProgress:
                bid = int(p["batchId"])
                if bid not in self._seen_batches:
                    self._seen_batches.add(bid)
                    self._metrics["input_rows_total"] = self._metrics.get(
                        "input_rows_total", 0
                    ) + int(p.get("numInputRows", 0))
            if self._seen_batches:
                self._metrics["last_batch_id"] = max(self._seen_batches)
                self._metrics["n_batches"] = len(self._seen_batches)
        except Exception:
            pass  # progress feed is best-effort telemetry

    def _execute(self) -> None:  # a StreamingQueryException → FAILED
        while not self._query.awaitTermination(0.5):
            self._refresh_metrics()
            self._checkpoint()
        self._refresh_metrics()

    def _cancel(self) -> None:
        self._query.stop()

    # a stream's graceful stop IS its cooperative cancel
    stop = _BackgroundJob.abort


def start_background_stream(job_id: str, writer) -> StreamingJobHandle:
    """Start a configured ``DataStreamWriter`` as a DETACHED job: the
    streaming face of ``start_background`` (SURVEY §7.4.4 —
    RunInBackground-as-continuous-job). The writer must carry its own
    checkpointLocation; restarting the same writer+checkpoint after an
    abort resumes exactly-once from committed offsets."""
    handle = StreamingJobHandle(job_id, writer.start())
    _start(handle)
    return handle


class DetachedJobView:
    """Read-only attach to a job owned by ANOTHER process, backed by
    its checkpoint file (mirror of the reference's watch-by-ID —
    /root/reference/job/manager_distributed.go:25-33). Same surface as
    JobHandle minus abort/result (the owning process holds the
    SparkContext)."""

    def __init__(self, job_id: str):
        self.job_id = job_id

    def _read(self) -> dict:
        with open(_checkpoint_path(self.job_id)) as f:
            return json.load(f)

    @property
    def status(self) -> str:
        return self._read()["status"]

    @property
    def error(self) -> str | None:
        return self._read()["error"]

    def metrics(self) -> dict[str, Any]:
        return dict(self._read()["metrics"])

    def wait(self, timeout: float | None = None, poll: float = 0.2) -> "DetachedJobView":
        deadline = None if timeout is None else time.time() + timeout
        while self.status == RUNNING:
            if deadline is not None and time.time() >= deadline:
                break
            time.sleep(poll)
        return self


def get_job(job_id: str) -> JobHandle | StreamingJobHandle | DetachedJobView | None:
    """Attach by job ID (mirror of /root/reference/running_job.go:196-202):
    the live in-process handle when this process owns the job, else a
    checkpoint-file view of a job started by any other process sharing
    $LRMR_SPARK_JOB_DIR."""
    with _registry_lock:
        h = _registry.get(job_id)
    if h is not None:
        return h
    if os.path.exists(_checkpoint_path(job_id)):
        return DetachedJobView(job_id)
    return None


def list_jobs() -> list[str]:
    """All known job IDs: this process's registry plus every checkpoint
    file in the shared job dir."""
    with _registry_lock:
        ids = set(_registry)
    if os.path.isdir(_JOB_DIR):
        ids.update(
            f[:-5] for f in os.listdir(_JOB_DIR) if f.endswith(".json") and not f.startswith(".")
        )
    return sorted(ids)
