"""SparkSession factory tuned for this engine.

Replaces the reference's cluster bootstrap (``lrmr.NewExecutor`` /
``ConnectToCluster`` — /root/reference/lrmr.go:21-53,
/root/reference/executor/executor.go:76-112): Spark owns cluster
membership, liveness and scheduling, so the only thing left to build is
a well-configured session.

Scale notes (100 TB / 1000-executor design):
- AQE is on: runtime partition coalescing, skew-join splitting and
  dynamic join-strategy switching replace the reference's static
  scheduler (/root/reference/partitions/schedule.go:55-165).
- ``spark.sql.shuffle.partitions`` defaults to ~2-3x total cores locally;
  on a real cluster AQE's coalescing makes a high initial number safe.
- Arrow is enabled so every Pandas-UDF operator moves columnar batches,
  the analogue of the reference's batched []Row channels
  (/root/reference/input/reader.go:9-21) but vectorized.

Fixed cost per driver↔JVM↔worker round trip (local masters only):
- Python tasks reach the JVM over Unix-domain sockets instead of
  loopback TCP, whose delayed ACK stalled every task ~40 ms before its
  first Arrow batch. The sockets live in a private 0700 directory,
  chosen so every socket path fits the AF_UNIX limit however deep
  ``TMPDIR`` is, and removed when the session stops.
- PySpark's DataFrame call-site capture is off: it cost every
  ``Column``/``functions`` call ~6 Py4J round trips and imported IPython
  into the driver. Errors keep their type, error class and query
  context; the context's call site is a JVM frame, not ``file.py:line``.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

__all__ = ["get_spark", "session_conf", "DEFAULT_SF_DIR"]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return f"local[{cpus}]" if cpus else "local[*]"


_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
_WORKER_DIR = os.path.join(_PACKAGE_DIR, "_worker")
_REPO_WAREHOUSE = os.path.join(os.path.dirname(_PACKAGE_DIR), ".spark-warehouse")
_EXECUTOR_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
_UNIX_SOCKETS = "spark.python.unix.domain.socket.enabled"
_SOCKET_DIR = "spark.python.unix.domain.socket.dir"
# Spark and pyspark name each socket file "/.<uuid4>.sock"
_SOCKET_NAME_LEN = len("/.00000000-0000-0000-0000-000000000000.sock")
# sun_path holds 104 bytes on BSD/macOS and 108 on Linux, the NUL included
_SOCKET_PATH_MAX = 103
_SOCKET_DIR_PREFIX = "lrmr-uds-"

_socket_dir: str | None = None


def _python_socket_dir() -> str:
    """This process's private (mode 0700) directory for Spark's
    Unix-domain sockets, created on first use and again after a session
    stop removed it. Spark's Unix-domain sockets carry no auth secret,
    so the directory's permissions are their only guard. It sits under
    ``tempfile.gettempdir()`` when a socket path there fits in
    ``sun_path``, else under ``/tmp``."""
    global _socket_dir
    if _socket_dir is None or not os.path.isdir(_socket_dir):
        base = tempfile.gettempdir()
        # mkdtemp appends 8 random characters to the prefix
        longest = len(os.path.join(base, _SOCKET_DIR_PREFIX)) + 8 + _SOCKET_NAME_LEN
        if longest > _SOCKET_PATH_MAX:
            base = "/tmp"
        _socket_dir = tempfile.mkdtemp(prefix=_SOCKET_DIR_PREFIX, dir=base)
        atexit.register(shutil.rmtree, _socket_dir, True)
    return _socket_dir


def _remove_on_stop(sc: SparkContext, path: str) -> None:
    """Remove ``path`` when ``sc`` stops (``SparkSession.stop`` stops
    its context through ``sc.stop``)."""
    stop = sc.stop

    def stop_and_remove() -> None:
        try:
            stop()
        finally:
            shutil.rmtree(path, ignore_errors=True)

    sc.stop = stop_and_remove


def session_conf(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The conf ``get_spark`` builds its session from, ``spark.master``
    included; pure, so it can be checked without a cluster.

    A local master runs Python tasks through the engine's worker entry
    (``_worker/pyspark_graft_worker.py``, which skips the per-task
    re-read of Spark's own zip archives): the entry's directory is
    appended to any ``spark.executorEnv.PYTHONPATH`` the caller passes.
    It also talks to its Python workers over Unix-domain sockets in
    ``_python_socket_dir()`` (the one side effect: that directory is
    created) and turns off DataFrame call-site capture; ``extra_conf``
    overrides either. Any other master keeps Spark's defaults, because
    the entry's path and the socket directory only exist on this host.
    """
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)
    master = master or _default_master()
    conf = {
        "spark.master": master,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # custom Python DataSources (sources.pyds feeder) prune via
        # pushFilters; disabled by default in Spark 4.1
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        "spark.ui.enabled": "false",
        # testdata events.ts is parquet TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long, converted in tables.load
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # bucketed tables (write_bucketed / bucketed_join_orders) live
        # here; pinned so every process that shares the repo sees the
        # same layout regardless of cwd
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", _REPO_WAREHOUSE
        ),
    }
    conf.update(extra_conf or {})
    if conf["spark.master"] == "local" or conf["spark.master"].startswith("local["):
        conf.setdefault("spark.python.worker.module", "pyspark_graft_worker")
        conf.setdefault("spark.python.sql.dataFrameDebugging.enabled", "false")
        if conf.setdefault(_UNIX_SOCKETS, "true").lower() == "true" and _SOCKET_DIR not in conf:
            conf[_SOCKET_DIR] = _python_socket_dir()
        conf[_EXECUTOR_PYTHONPATH] = os.pathsep.join(
            p for p in (conf.get(_EXECUTOR_PYTHONPATH), _WORKER_DIR) if p
        )
    return conf


def get_spark(
    app_name: str = "lrmr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    Defaults favor correctness-critical settings (UTC session timezone so
    timestamps compare bit-identically with the DuckDB oracle) and
    scale-critical ones (AQE, Arrow, skew-join handling); see
    ``session_conf``.
    """
    builder = SparkSession.builder.appName(app_name)
    for k, v in session_conf(master, shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    sock_dir = spark.sparkContext.getConf().get(_SOCKET_DIR)
    if sock_dir and sock_dir == _socket_dir:
        _remove_on_stop(spark.sparkContext, sock_dir)
    spark.sparkContext.setLogLevel("WARN")
    return spark
