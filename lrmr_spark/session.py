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
"""

from __future__ import annotations

import os

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
    Any other master keeps Spark's default worker, because the entry's
    path is only known to exist on this host.
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
    spark.sparkContext.setLogLevel("WARN")
    return spark
