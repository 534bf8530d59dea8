"""Pipeline façade: the reference's chaining API compiled to DataFrames.

Reproduces the programming model of ``lrmr.Pipeline``
(/root/reference/pipeline.go:24-124): a linear chain of
Map / FlatMap / Reduce / Sort / Do stages separated by user-selectable
partitioners, plus broadcasts and metrics — re-expressed so every stage
becomes a *declarative* DataFrame transformation that Catalyst can
optimize (predicate pushdown, column pruning, partial aggregation,
whole-stage codegen), instead of opaque user functions.

Design rules:
- Fast path first: column-expression ``map``/``filter``/``reduce`` stay
  JVM-side (codegen'd). The general path (arbitrary Python logic, the
  analogue of the reference's ``Transformer`` /
  /root/reference/transformations.go:23-49) is Arrow-batched
  ``mapInPandas`` / ``applyInPandas`` — never row-at-a-time UDFs.
- Nothing materializes on the driver until ``run_and_collect``
  (mirror of /root/reference/pipeline.go:179-200); ``run_in_background``
  returns a job handle (mirror of /root/reference/running_job.go:33-143).
- Partitioning operators map 1:1 (SURVEY §2.3): group_by_key → hash
  exchange, shuffle → round-robin repartition, repartition → count hint,
  group_by_known_keys → filter+exchange with the reference's
  drop-unknown-keys semantics
  (/root/reference/partitions/partitioner.go:86-92).
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Iterable, Mapping, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import sources
from .job import JobHandle, Result, start_background

__all__ = ["Pipeline"]


def _as_cols(cols: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in cols]


class Pipeline:
    """Chainable dataflow over a DataFrame.

    Every method returns a new Pipeline (immutably, like the reference's
    value-receiver chaining at /root/reference/pipeline.go:59-124).
    """

    def __init__(
        self,
        df: DataFrame,
        *,
        keys: tuple[str, ...] = (),
        broadcasts: dict[str, Any] | None = None,
        observations: list[Observation] | None = None,
    ) -> None:
        self._df = df
        self._keys = keys  # set by group_by_key, consumed by reduce/sort
        self._broadcasts = dict(broadcasts or {})
        self._observations = list(observations or [])

    # ------------------------------------------------------------------
    # sources (SURVEY §2.1)
    # ------------------------------------------------------------------
    @classmethod
    def parallelize(
        cls, spark: SparkSession, data: Iterable[Any], schema: Any = None
    ) -> "Pipeline":
        """In-memory rows → distributed DF.

        Mirror of ``lrmr.Parallelize`` (/root/reference/lrmr.go:12-14,
        input feeder /root/reference/input.go:24-31)."""
        return cls(sources.parallelize(spark, data, schema))

    @classmethod
    def from_local_file(cls, spark: SparkSession, path: str) -> "Pipeline":
        """One row per file path under ``path`` (column ``value``).

        Mirror of ``lrmr.FromLocalFile`` (/root/reference/lrmr.go:17-19):
        the reference emits *paths*, not contents
        (/root/reference/input.go:11-22); a downstream flat_map parses.
        At scale, prefer :meth:`read` — Spark's file sources split,
        prune, and push down natively."""
        return cls(sources.local_file_paths(spark, path))

    @classmethod
    def read(cls, spark: SparkSession, fmt: str, path: str, **options: Any) -> "Pipeline":
        """Native Spark source (parquet/csv/json/orc): the scale path."""
        return cls(spark.read.format(fmt).options(**options).load(path))

    # ------------------------------------------------------------------
    # transformations (SURVEY §2.2)
    # ------------------------------------------------------------------
    def _with(self, df: DataFrame, *, keys: tuple[str, ...] | None = None) -> "Pipeline":
        return Pipeline(
            df,
            keys=self._keys if keys is None else keys,
            broadcasts=self._broadcasts,
            observations=self._observations,
        )

    def map(
        self,
        fn: Callable | None = None,
        *,
        schema: Any = None,
        cols: Mapping[str, Column] | None = None,
    ) -> "Pipeline":
        """1→1 transform (mirror of /root/reference/pipeline.go:75-77).

        Fast path: ``cols`` is a mapping of output column → Column
        expression (JVM-side, codegen). General path: ``fn`` is either a
        per-batch callable ``pd.DataFrame -> pd.DataFrame`` (Arrow
        batches) plus an output ``schema``.
        """
        if cols is not None:
            return self._with(self._df.withColumns(dict(cols)))
        if fn is None:
            raise ValueError("map() needs cols= or fn=")
        if schema is None:
            schema = self._df.schema

        def _map_batches(it):
            for pdf in it:
                out = fn(pdf)
                if len(out) != len(pdf):
                    raise ValueError(
                        "map fn must be 1->1 (use flat_map for 1->N); "
                        f"got {len(pdf)} -> {len(out)} rows"
                    )
                yield out

        return self._with(self._df.mapInPandas(_map_batches, schema=schema))

    def flat_map(
        self,
        fn: Callable | None = None,
        *,
        schema: Any = None,
        explode: Column | None = None,
        alias: str = "value",
    ) -> "Pipeline":
        """1→N transform (mirror of /root/reference/pipeline.go:79-81).

        Fast path: ``explode=`` an array Column → ``F.explode`` (JVM).
        General path: ``fn`` per-batch, output cardinality free.
        """
        if explode is not None:
            other = [c for c in self._df.columns if c != alias]
            return self._with(self._df.select(*other, F.explode(explode).alias(alias)))
        if fn is None:
            raise ValueError("flat_map() needs explode= or fn=")
        if schema is None:
            schema = self._df.schema
        return self._with(self._df.mapInPandas(lambda it: (fn(pdf) for pdf in it), schema=schema))

    def filter(self, cond: Column | str) -> "Pipeline":
        """Native filter (the reference declares but never wires Filter —
        /root/reference/transformations.go:68-70)."""
        return self._with(self._df.filter(cond))

    def do(self, fn: Callable, *, schema: Any) -> "Pipeline":
        """Arbitrary stage over an iterator of Arrow batches — the exact
        analogue of the reference's ``Transformer``
        (/root/reference/transformations.go:23-49): stream in, free
        emission out."""
        return self._with(self._df.mapInPandas(fn, schema=schema))

    def reduce(
        self,
        aggs: Mapping[str, Column] | None = None,
        *,
        fn: Callable | None = None,
        schema: Any = None,
    ) -> "Pipeline":
        """Per-key aggregation (mirror of /root/reference/pipeline.go:83-85,
        exec loop /root/reference/transformations.go:225-252).

        Fast path: ``aggs`` maps output name → aggregate Column; Spark
        adds the map-side partial aggregation the reference never wired
        (its Combiner is vestigial —
        /root/reference/transformations.go:209-213).
        General path: ``fn(pd.DataFrame) -> pd.DataFrame`` runs per key
        group via ``applyInPandas`` for arbitrary sequential folds.
        Requires a preceding :meth:`group_by_key`.
        """
        if not self._keys:
            raise ValueError("reduce() requires group_by_key() first")
        grouped = self._df.groupBy(*self._keys)
        if aggs is not None:
            out = grouped.agg(*[c.alias(n) for n, c in aggs.items()])
            return self._with(out, keys=())
        if fn is None or schema is None:
            raise ValueError("reduce() needs aggs= or (fn=, schema=)")
        return self._with(grouped.applyInPandas(fn, schema=schema), keys=())

    def sort(self, *cols: str | Column) -> "Pipeline":
        """Per-partition sort — exact semantics of the reference's Sort
        (/root/reference/transformations.go:166-178): materializes and
        orders each partition independently, no global merge."""
        return self._with(self._df.sortWithinPartitions(*_as_cols(cols)))

    def order_by(self, *cols: str | Column) -> "Pipeline":
        """True global sort (strictly stronger than the reference's Sort;
        range-partitioned exchange, scales to any size)."""
        return self._with(self._df.orderBy(*_as_cols(cols)))

    # ------------------------------------------------------------------
    # partitioning (SURVEY §2.3)
    # ------------------------------------------------------------------
    def group_by_key(self, *keys: str) -> "Pipeline":
        """Hash-partition by key (mirror of
        /root/reference/pipeline.go:91-94; FNV-1a hash at
        /root/reference/partitions/partitioner.go:94-108). In Spark the
        exchange is implicit in the downstream groupBy — Catalyst only
        inserts a shuffle when required, so we just record the keys."""
        return self._with(self._df, keys=tuple(keys))

    def group_by_known_keys(self, keys: Sequence[Any], *key_cols: str) -> "Pipeline":
        """Finite-key grouping; rows with unknown keys are **silently
        dropped**, reproducing
        /root/reference/partitions/partitioner.go:86-92 (drop at
        /root/reference/output/writer.go:42-46). Filter runs *before*
        the shuffle so dropped rows never move."""
        if len(key_cols) != 1:
            raise ValueError("group_by_known_keys takes exactly one key column")
        col = key_cols[0]
        return self._with(
            self._df.filter(F.col(col).isin(list(keys))), keys=(col,)
        )

    def shuffle(self, n: int | None = None) -> "Pipeline":
        """Round-robin redistribution (mirror of
        /root/reference/pipeline.go:101-104, impl
        /root/reference/partitions/partitioner.go:110-127)."""
        return self._with(self._df.repartition(n) if n else self._df.repartition())

    def repartition(self, n: int, *cols: str | Column) -> "Pipeline":
        """Set partition count (and optionally hash keys) of the next
        stage (mirror of /root/reference/pipeline.go:106-109)."""
        if cols:
            return self._with(self._df.repartition(n, *_as_cols(cols)))
        return self._with(self._df.repartition(n))

    def partitioned_by(self, n: int, expr: Column) -> "Pipeline":
        """Custom routing expression (mirror of
        /root/reference/pipeline.go:111-114): rows with equal ``expr``
        values co-locate. Physical node pinning is a non-goal
        (SURVEY §7.5)."""
        return self._with(self._df.repartition(n, expr))

    def partitioned_by_fn(self, n: int, route) -> "Pipeline":
        """Fully arbitrary routing FUNCTION ``route(Row) -> int`` in
        [0, n) — the reference Partitioner's opaque DeterminePartition
        contract (/root/reference/partitions/partitioner.go:16-19,
        exercised by /root/reference/test/custom_partitioner.go:25-39,
        minus host pinning). Spark expressions can't host an opaque
        Python router, so this drops to the RDD layer:
        keyBy(route) → partitionBy(n, identity) → values. Use
        :meth:`partitioned_by` (JVM-side, codegen'd) whenever the
        routing is expressible; this is the parity escape hatch, and
        it pays one Python pass over the rows."""
        schema = self._df.schema
        spark = self._df.sparkSession
        routed = (
            self._df.rdd.map(lambda row: (route(row), row))
            .partitionBy(n, lambda k: int(k))
            .map(lambda kv: kv[1])
        )
        return self._with(spark.createDataFrame(routed, schema))

    def coalesce(self, n: int) -> "Pipeline":
        return self._with(self._df.coalesce(n))

    def with_worker_count(self, n: int) -> "Pipeline":
        """Caps parallelism of the next stage (mirror of
        /root/reference/pipeline.go:116-119). Spark owns executor
        placement; the faithful semantic is a partition-count cap."""
        return self.repartition(n)

    def with_concurrency_per_worker(self, n: int) -> "Pipeline":
        """Tasks per node (mirror of /root/reference/pipeline.go:121-124)
        — a cluster-conf concern in Spark (spark.executor.cores); kept
        as a documented no-op so pipelines port verbatim."""
        return self._with(self._df)

    # ------------------------------------------------------------------
    # broadcast + metrics (SURVEY §2.4)
    # ------------------------------------------------------------------
    def broadcast(self, key: str, value: Any) -> "Pipeline":
        """Ship a value to every task (mirror of
        /root/reference/pipeline.go:51-56). Values are captured in UDF
        closures (pickled once per task via Spark's broadcast of the
        serialized function) — retrieve with :meth:`get_broadcast`
        inside ``fn`` bodies."""
        p = self._with(self._df)
        p._broadcasts = {**self._broadcasts, key: value}
        return p

    def get_broadcast(self, key: str) -> Any:
        """Read a broadcast value (mirror of ctx.Broadcast —
        /root/reference/executor/task_context.go:35-37)."""
        return self._broadcasts[key]

    def with_metric(self, name: str, expr: Column | None = None) -> "Pipeline":
        """Observe a metric over the rows flowing through this point
        (mirror of ctx.AddMetric —
        /root/reference/executor/task_context.go:43-49), implemented
        with ``df.observe`` (zero-cost, no extra pass)."""
        obs = Observation(name)
        expr = expr if expr is not None else F.count(F.lit(1)).alias(name)
        p = self._with(self._df.observe(obs, expr))
        p._observations = self._observations + [obs]
        return p

    # ------------------------------------------------------------------
    # run modes (SURVEY §2.4)
    # ------------------------------------------------------------------
    @property
    def df(self) -> DataFrame:
        return self._df

    def explain(self, mode: str = "formatted") -> None:
        self._df.explain(mode)

    def run_and_collect(self) -> Result:
        """Attached run: stream results to the driver (mirror of
        /root/reference/pipeline.go:179-200)."""
        rows = self._df.collect()
        metrics: dict[str, Any] = {}
        for obs in self._observations:
            metrics.update(obs.get)
        return Result(rows=rows, metrics=metrics)

    def run_in_background(self, job_id: str | None = None) -> JobHandle:
        """Detached run (mirror of /root/reference/pipeline.go:153-177):
        returns a handle with status/wait/abort/metrics parity with
        /root/reference/running_job.go:79-202, tracked in an in-process
        registry instead of etcd (SURVEY §7.4.4)."""
        job_id = job_id or uuid.uuid4().hex[:12]
        return start_background(job_id, self._df, self._observations)
