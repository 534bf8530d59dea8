"""Custom Python DataSource: the reference's pluggable ``Feeder``
re-expressed on Spark 4's Python DataSource API.

The reference models input as an interface — anything that writes rows
into an output (``/root/reference/input/feeder.go:9-11``); lrmr ships
range/file feeders built on it. Spark 4 exposes the same contract to
Python: a ``DataSource`` declares schema + partitions, each
``InputPartition`` is read independently on executors (Arrow
RecordBatches, vectorized), and the planner calls ``pushFilters`` so
the source can prune before emitting — the three properties (pluggable,
partition-parallel, pushdown-aware) that make a Feeder scale.

``RangeFeederDataSource`` is the deterministic synthetic feeder: rows
``(id, key, value)`` with key = chr(97 + id MOD 5) and value a Knuth
multiplicative hash MOD 1000, split into ``parts`` range partitions.
Deterministic by formula → any engine can re-derive the exact rows (the
DuckDB oracle regenerates them from range()), and every partition knows
its own [lo, hi) — no driver-side row materialization ever.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    SimpleDataSourceStreamReader,
    LessThanOrEqual,
    DataSourceWriter,
    WriterCommitMessage,
)

# list_versions / read_manifest are this sink's snapshot readers too
from ..stored_index import commit_manifest, list_versions, read_manifest  # noqa: F401

FORMAT_NAME = "lrmr_feeder"
_SCHEMA = "id bigint, key string, value bigint"
_KNUTH = 2654435761


@dataclass
class _RangePart(InputPartition):
    lo: int
    hi: int


class _RangeFeederReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 10000))
        self.parts = max(int(options.get("parts", 8)), 1)
        self.lo = 0
        self.hi = self.n

    def pushFilters(self, filters: list[Filter]):
        """Narrow [lo, hi) for id-range predicates; anything else is
        returned for Spark to evaluate post-scan."""
        for f in filters:
            handled = False
            if (
                f.attribute == ("id",)
                and isinstance(getattr(f, "value", None), int)
            ):
                if isinstance(f, GreaterThan):
                    self.lo = max(self.lo, f.value + 1)
                    handled = True
                elif isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, f.value)
                    handled = True
                elif isinstance(f, LessThan):
                    self.hi = min(self.hi, f.value)
                    handled = True
                elif isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, f.value + 1)
                    handled = True
                elif isinstance(f, EqualTo):
                    self.lo = max(self.lo, f.value)
                    self.hi = min(self.hi, f.value + 1)
                    handled = True
            if not handled:
                yield f

    def partitions(self):
        lo, hi = self.lo, max(self.hi, self.lo)
        span = hi - lo
        step = max((span + self.parts - 1) // self.parts, 1)
        return [
            _RangePart(s, min(s + step, hi)) for s in range(lo, hi, step)
        ] or [_RangePart(lo, lo)]

    def read(self, partition: _RangePart):
        import pyarrow as pa

        ids = list(range(partition.lo, partition.hi))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids, type=pa.int64()),
                pa.array([chr(97 + i % 5) for i in ids], type=pa.string()),
                pa.array([(i * _KNUTH) % 1000 for i in ids], type=pa.int64()),
            ],
            names=["id", "key", "value"],
        )


class RangeFeederDataSource(DataSource):
    @classmethod
    def name(cls):
        return FORMAT_NAME

    def schema(self):
        return _SCHEMA

    def reader(self, schema):
        return _RangeFeederReader(self.options)

    def simpleStreamReader(self, schema):
        return _RangeFeederStreamReader(self.options)

    def writer(self, schema, overwrite):
        return _JsonlDirWriter(self.options, overwrite)


_registered: set[int] = set()


def register(spark) -> None:
    """Idempotently register the feeder format on this session.

    Also enables ``spark.sql.python.filterPushdown.enabled`` at runtime:
    Spark 4 hard-fails any Python reader that defines ``pushFilters``
    when the conf is off, and sessions built outside :func:`get_spark`
    (e.g. an external harness) won't have it set. The conf is
    runtime-settable, so setting it here makes the source portable to
    any session it is registered on.
    """
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    key = id(spark)
    if key not in _registered:
        spark.dataSource.register(RangeFeederDataSource)
        _registered.add(key)


def read_feeder(spark, n: int = 10000, parts: int = 8):
    register(spark)
    return (
        spark.read.format(FORMAT_NAME)
        .option("n", str(n))
        .option("parts", str(parts))
        .load()
    )


class _RangeFeederStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch twin of the range feeder: each trigger emits the
    next ``batch`` ids until ``n`` is exhausted; offsets are plain
    dicts, and readBetweenOffsets replays any span deterministically
    (the formula IS the WAL), giving exactly-once recovery for free."""

    def __init__(self, options):
        self.n = int(options.get("n", 10000))
        self.batch = int(options.get("batch", 1000))

    def initialOffset(self):
        return {"pos": 0}

    def _rows(self, lo: int, hi: int):
        return [
            (i, chr(97 + i % 5), (i * _KNUTH) % 1000) for i in range(lo, hi)
        ]

    def read(self, start):
        pos = start["pos"]
        end = min(pos + self.batch, self.n)
        return iter(self._rows(pos, end)), {"pos": end}

    def readBetweenOffsets(self, start, end):
        return iter(self._rows(start["pos"], end["pos"]))


def read_feeder_stream(spark, n: int = 10000, batch: int = 1000):
    register(spark)
    return (
        spark.readStream.format(FORMAT_NAME)
        .option("n", str(n))
        .option("batch", str(batch))
        .load()
    )


@dataclass
class _PartFileCommit(WriterCommitMessage):
    filename: str
    n_rows: int


class _JsonlDirWriter(DataSourceWriter):
    """Custom sink with a two-phase commit protocol (the output-side
    counterpart of the feeder): each task writes its partition to a
    UNIQUELY-NAMED staged file and returns a commit message; only the
    driver's commit() publishes the manifest listing exactly the
    committed files. Readers resolve the directory THROUGH the
    manifest, so half-written output from failed/speculative tasks is
    invisible — the same visibility rule every table format
    (Delta/Iceberg) builds on, in its minimal form."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("lrmr_feeder writer requires a path")
        self.overwrite = overwrite

    def write(self, iterator):
        import json
        import os
        import uuid
        from pyspark import TaskContext

        ctx = TaskContext.get()
        # taskAttemptId is unique only within one SparkContext; a second
        # application appending to the same sink could reuse a filename
        # and os.replace would clobber a file an older snapshot still
        # references. A per-task uuid token keeps part names globally
        # unique so published files are truly immutable.
        token = uuid.uuid4().hex[:12]
        fname = f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}-{token}.jsonl"
        os.makedirs(self.path, exist_ok=True)
        staged = os.path.join(self.path, "_staged-" + fname)
        n = 0
        with open(staged, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        os.replace(staged, os.path.join(self.path, fname))
        return _PartFileCommit(filename=fname, n_rows=n)

    def commit(self, messages):
        # Versioned snapshot commit (time travel in its minimal form):
        # every commit publishes an immutable _MANIFEST-v{N} listing the
        # FULL visible file set as of that commit — append extends the
        # parent snapshot, overwrite starts a new lineage. Old snapshots
        # stay readable by version number (read_versioned), exactly the
        # Iceberg/Delta snapshot rule. Single-driver commit protocol:
        # Spark serializes commit() per write job.
        file_rows = {m.filename: m.n_rows for m in messages}
        parent = None
        if not self.overwrite:
            try:
                parent = read_manifest(self.path)
            except FileNotFoundError:
                parent = None
        if parent is not None:
            file_rows = {**parent.get("file_rows", {}), **file_rows}
        commit_manifest(
            self.path,
            {
                "parent": parent["version"] if parent else None,
                "files": sorted(file_rows),
                "file_rows": file_rows,
                "rows": sum(file_rows.values()),
            },
        )

    def abort(self, messages):
        import os

        for m in messages:
            try:
                os.remove(os.path.join(self.path, m.filename))
            except FileNotFoundError:
                pass


def read_versioned(spark, path: str, version: int | None = None):
    """Time-travel read: the dataset exactly as of snapshot ``version``
    (latest when None). Readers resolve files THROUGH the manifest, so
    uncommitted/aborted part files and files added by later snapshots
    are invisible — the snapshot-isolation read rule of every table
    format."""
    m = read_manifest(path, version)
    return spark.read.json([f"{path}/{f}" for f in m["files"]])
