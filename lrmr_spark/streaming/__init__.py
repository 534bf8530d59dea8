"""Structured Streaming surface: the continuous counterpart of the
batch catalog (SURVEY §7 phase 4).

The reference's only "streaming" notion is push-based dataflow inside a
job plus detached background jobs (/root/reference/pipeline.go:153-177);
real stream processing (event-time windows, watermarks, late data,
stateful operators) comes from Structured Streaming here:

- ``stream_events``   → readStream over the events table layout
- ``tumbling_counts`` / ``sliding_counts``  → watermarked window aggs
  (same expressions as the batch events_ops catalog entries)
- ``session_counts``  → session_window with inactivity gap
- ``stateful_seen_filter`` → applyInPandasWithState cross-batch dedup
  (the custom-stateful-operator escape hatch)
- ``run_to_memory`` / ``run_available_now`` → drive a query to
  completion on a bounded source into a memory sink (the continuous and
  the availableNow trigger; swap the sink for kafka/parquet in
  production)
- the ``run_*_stream`` serving runners → the identical batch operator
  per micro-batch inside foreachBatch; its result frames land in one
  ``_epoch``-partitioned parquet sink, read back under the operator's
  own schema (``_run_epoch_sink``)

Late data: each aggregation carries ``withWatermark`` so state is
dropped once event time passes the threshold — the knob the reference
has no equivalent for.
"""

from __future__ import annotations

from collections.abc import Iterator
import os
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import stored_index as SI
from ..sources import parallelize, read_parquet

__all__ = [
    "stream_events",
    "tumbling_counts",
    "sliding_counts",
    "session_counts",
    "stateful_seen_filter",
    "stateful_ewma",
    "view_click_interval_join",
    "view_click_left_outer_join",
    "static_enrich_counts",
    "run_to_memory",
    "run_available_now",
    "stream_documents",
    "run_minhash_index_match_stream",
    "stream_embeddings",
    "run_pq_index_append_stream",
    "run_winnowing_index_match_stream",
    "run_quality_score_stream",
]


# State/shuffle partition count for the streaming harness runs. Every
# stateful operator pins its state-store partitioning from
# spark.sql.shuffle.partitions at the query's FIRST micro-batch; each
# state partition is an HDFS-backed store instance committing one delta
# file per batch (stream-stream joins keep FOUR stores per partition).
# With the session default (one per core, 32 locally) the per-batch
# commit constant dominated every entry at the bench's bounded epoch
# sizes: measured fingerprint-identical at sf0.1 (EXP_STREAM_CONST.json,
# min-of-3) streaming_interval_join 9.03 s -> 3.42 s and
# streaming_sessionization 3.62 s -> 2.25 s at 8 partitions; 4 bought
# little more and halves parallel headroom. The knob is env-tunable
# because the right value tracks STATE VOLUME, not cores: a production
# deployment with a large key space raises it (state partitioning is
# fixed per checkpoint, so pick it for the stream's lifetime).
_STREAM_SHUFFLE_PARTITIONS = os.environ.get(
    "SPARK_GRAFT_STREAM_SHUFFLE_PARTITIONS", "8"
)


class _stream_partitions:
    """Scoped spark.sql.shuffle.partitions override for a stream run:
    set before .start() (the first batch pins state partitioning),
    restored after the query stops. Never raises the session value —
    min(session, knob) — and falls back to the session value when
    either is non-numeric."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        try:
            n = max(1, int(_STREAM_SHUFFLE_PARTITIONS))
            try:
                n = min(n, int(self.prev))
            except (TypeError, ValueError):
                pass
            self.spark.conf.set("spark.sql.shuffle.partitions", str(n))
        except (TypeError, ValueError):
            pass
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


def _events_raw_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Streaming sources never infer, so probe the parquet footer with a
    one-off batch read. The generated testdata has shipped events.ts as
    both TIMESTAMP(NANOS) (long under nanosAsLong) and plain
    TIMESTAMP(MICROS); mirroring the physical type here lets
    stream_events normalize exactly like the batch loader."""
    batch = read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", batch.schema["ts"].dataType),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file = one
    micro-batch locally; in production the same pipeline reads Kafka —
    only this function changes)."""
    # the file stream source requires a directory; pathGlobFilter scopes
    # it to the events table
    raw = (
        spark.readStream.schema(_events_raw_schema(spark, sf_dir))
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    from lrmr_spark.tables import _normalize_events_ts

    return _normalize_events_ts(raw)


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked 1-hour tumbling counts per event type — identical
    expression to the batch events_tumbling_counts catalog entry."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("w_start"), "event_type", "cnt", "total_value")
    )


def sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("w_start"), "cnt")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Event-time sessionization with session_window — the streaming
    twin of the batch gaps-and-islands events_sessionization entry.

    The session bounds are aggregates (``min(ts)``, ``max(ts) + gap``),
    not the window key's ``start``/``end``: the optimiser pushes a
    filter on a key column below the session merge, which splits
    sessions, and it cannot push one on an aggregate."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.min("ts").alias("sess_start"),
            (F.max("ts") + F.expr(f"INTERVAL {gap}")).alias("sess_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select("user_id", "sess_start", "sess_end", "n_events", "total_value")
    )


_SEEN_OUTPUT_SCHEMA = "user_id bigint, event_id bigint, ts timestamp"
_SEEN_STATE_SCHEMA = "seen array<bigint>"


def _make_seen_filter_fn(ttl_ms: int):
    def _seen_filter_fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Emit only first-seen event_ids per user; remembered across
        micro-batches in group state (the arbitrary-stateful-operator
        pattern — what the reference would need a custom Transformer
        plus external state for). State is EVICTED once the watermark
        passes the user's last activity + TTL — without it, per-user
        state grows forever (round-1 verdict finding)."""
        if state.hasTimedOut:
            state.remove()
            return
        seen: set[int] = set(state.get[0]) if state.exists else set()
        last_ts_ms = 0
        for pdf in pdfs:
            fresh = pdf[~pdf["event_id"].isin(seen)]
            fresh = fresh.drop_duplicates(subset=["event_id"])
            seen.update(int(x) for x in fresh["event_id"])
            if len(pdf):
                last_ts_ms = max(last_ts_ms, int(pdf["ts"].max().value // 1_000_000))
            if len(fresh):
                yield fresh[["user_id", "event_id", "ts"]]
        state.update((sorted(seen),))
        # event-time TTL: fires when the watermark passes it, then the
        # hasTimedOut branch above drops the seen-set
        state.setTimeoutTimestamp(last_ts_ms + ttl_ms)

    return _seen_filter_fn


def stateful_seen_filter(
    events: DataFrame, watermark: str = "1 hour", ttl_ms: int = 30 * 86_400_000
) -> DataFrame:
    """Cross-batch exact dedup by (user_id, event_id) via
    applyInPandasWithState with EventTimeTimeout: a user's seen-set is
    dropped once the watermark passes their last activity + ``ttl_ms``
    (default 30 days), so state stays finite on an unbounded stream —
    duplicates arriving after the TTL re-emit (the standard
    dedup-within-horizon contract)."""
    return (
        events.select("user_id", "event_id", "ts")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_seen_filter_fn(ttl_ms),
            outputStructType=_SEEN_OUTPUT_SCHEMA,
            stateStructType=_SEEN_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


_EWMA_OUTPUT_SCHEMA = "user_id bigint, event_id bigint, ewma_cents bigint"
_EWMA_STATE_SCHEMA = "acc bigint, last_ts_ms bigint"


def _make_ewma_fn(ttl_ms: int):
    def _ewma_fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Incremental EWMA (alpha = 1/2) over each user's event stream:
        acc' = acc DIV 2 + cents — one bigint of state per user, exact
        integer arithmetic (the streaming twin of the batch
        events_ewma_value entry; same recurrence as its docstring).
        State evicts via event-time TTL like stateful_seen_filter."""
        if state.hasTimedOut:
            state.remove()
            return
        acc, last_ts_ms = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["ts", "event_id"])
            out = []
            for cents in pdf["cents"]:
                acc = acc // 2 + int(cents)
                out.append(acc)
            pdf = pdf.assign(ewma_cents=out)
            last_ts_ms = max(last_ts_ms, int(pdf["ts"].max().value // 1_000_000))
            yield pdf[["user_id", "event_id", "ewma_cents"]]
        state.update((acc, last_ts_ms))
        state.setTimeoutTimestamp(last_ts_ms + ttl_ms)

    return _ewma_fn


def stateful_ewma(
    events: DataFrame, watermark: str = "1 hour", ttl_ms: int = 30 * 86_400_000
) -> DataFrame:
    """Per-event incremental EWMA of value (exact integer cents,
    alpha = 1/2) via applyInPandasWithState — the numeric-state
    counterpart of stateful_seen_filter: one bigint accumulator per
    user instead of a seen-set, evicted by the same watermark-driven
    event-time TTL. Within a micro-batch events are folded in (ts,
    event_id) order so the recurrence is deterministic."""
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events.select("user_id", "event_id", "ts", cents.alias("cents"))
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_ewma_fn(ttl_ms),
            outputStructType=_EWMA_OUTPUT_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def static_enrich_counts(
    events: DataFrame, dim: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Stream-static join: enrich the event stream with a dimension
    snapshot (customer → market segment), then watermarked 1-hour
    tumbling counts per segment — the canonical streaming-enrichment
    shape (clickstream ⋈ user profile).

    Stream-static joins are STATELESS: each micro-batch joins against
    the current dimension snapshot, so no join state accumulates (unlike
    stream-stream joins, which need watermark-bounded buffers). The
    static side carries no broadcast hint — it is data-proportional
    (customer), so the planner/AQE picks broadcast at dimension scale
    and shuffle if it ever outgrows the threshold, per the repo's
    broadcast discipline. Only the windowed aggregation keeps state,
    dropped as the watermark passes."""
    seg = dim.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    return (
        events.withWatermark("ts", watermark)
        .join(seg, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("w_start"), "segment", "cnt", "total_value")
    )


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Drive a streaming DF to completion on its bounded source and
    return the sink contents as a batch DF (local test harness)."""
    with _stream_partitions(df.sparkSession):
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def _drain_available_now(writer, spark: SparkSession, timeout_s: int, what: str) -> None:
    """Start an availableNow writer under the scoped state-partition
    override and block until the bounded source drains."""
    with _stream_partitions(spark):
        q = writer.trigger(availableNow=True).start()
        try:
            if not q.awaitTermination(timeout_s):
                raise TimeoutError(
                    f"availableNow {what} stream did not drain in {timeout_s}s"
                )
        finally:
            q.stop()


def run_available_now(
    df: DataFrame, name: str, output_mode: str = "append", timeout_s: int = 300
) -> DataFrame:
    """Drive a streaming DF with ``Trigger.AvailableNow`` and return the
    sink contents — the BACKFILL/catch-up execution mode: process
    everything currently available in rate-limited micro-batches
    (honoring maxFilesPerTrigger, unlike the deprecated Trigger.Once),
    then shut down cleanly.

    This is the scheduled-incremental pattern at 100 TB: a cron-started
    job drains the source up to "now" with bounded per-batch memory,
    commits offsets, and exits — no always-on cluster, identical state
    and watermark semantics to the continuous run, resumable from the
    same checkpoint."""
    _drain_available_now(
        df.writeStream.outputMode(output_mode).format("memory").queryName(name),
        df.sparkSession,
        timeout_s,
        name,
    )
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def view_click_interval_join(
    views_src: DataFrame,
    clicks_src: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INTERVAL join: attribute each click to the same
    user's preceding view within ``gap`` (click.ts in [view.ts,
    view.ts + gap]). The canonical funnel/attribution join.

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions, so Spark can evict join state once the
    other side's watermark passes view.ts + gap — state stays
    proportional to the gap window, not the stream history (the
    requirement for an unbounded 100 TB/day stream). Pass the same
    bounded source twice locally; in production each side is its own
    Kafka topic."""
    views = (
        views_src.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    clicks = (
        clicks_src.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    cond = (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {gap}"))
    )
    return views.join(clicks, cond).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        (F.unix_timestamp("c_ts") - F.unix_timestamp("v_ts")).alias("delta_s"),
    )


def view_click_left_outer_join(
    views_src: DataFrame,
    clicks_src: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every view emits — with
    its matching click(s) inside ``gap``, or ONCE with NULL click
    columns after the click-side watermark passes view.ts + gap and no
    match arrived. The "did the funnel step NOT happen" query, which an
    inner join cannot answer on a stream.

    The outer (null-extended) row cannot be emitted eagerly: the match
    might still arrive. Spark holds the view in join state and emits
    the null row only when the watermark PROVES no future click can
    match — the same eviction bound as the inner join, so state stays
    proportional to gap + watermark, never the stream history."""
    views = (
        views_src.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", watermark)
    )
    clicks = (
        clicks_src.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    cond = (
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {gap}"))
    )
    return views.join(clicks, cond, "leftOuter").select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        (F.unix_timestamp("c_ts") - F.unix_timestamp("v_ts")).alias("delta_s"),
    )


def dedup_within_watermark(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Built-in cross-batch dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps one row per (user_id,
    event_id) and — unlike plain dropDuplicates on a stream — evicts
    each key's state once the watermark passes its event time, so
    state is proportional to the watermark window, not the stream
    history. The engine-native twin of stateful_seen_filter (which
    keeps custom per-user state via applyInPandasWithState); prefer
    this one when the dedup key is exact equality and the TTL is the
    watermark itself."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_id"]
    )


def mincount_sketch_state(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming twin of sketch_distinct_mincount: per watermarked
    1-hour window, materialize the 16-bucket MinCount state (bucket →
    min hash) as ONE streaming aggregation — min() is a valid
    incremental aggregate, so the sketch updates in place per
    micro-batch and the closed-window rows ARE the mergeable sketch
    table. The final distinct estimate (sum of M/(min+1) over buckets)
    is a read-side fold over 16 rows per group — done at query time or
    by the batch twin; streaming never needs a second aggregation
    (Structured Streaming allows only one) and never keeps raw ids in
    state: per (window, type) the state is exactly 16 bigints, the
    property that makes a distinct sketch viable on an unbounded
    stream."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    return (
        events.withWatermark("ts", watermark)
        .select("ts", "event_type", h.alias("h"))
        .groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
            F.expr("h % 16").alias("bucket"),
        )
        .agg(F.expr("min(h DIV 16)").alias("mn"))
        .select(
            F.col("w.start").alias("w_start"), "event_type", "bucket", "mn"
        )
    )


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (one file = one
    micro-batch locally; production reads Kafka/object-store drops —
    only this function changes)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )



def _read_sink(spark: SparkSession, out_path: str, schema: T.StructType) -> DataFrame:
    """The sink's rows under the result schema: no inference job, and
    an empty sink (a stream that ran no micro-batch leaves none) reads
    as an empty frame of that schema. A file that does not fit the
    schema fails the read instead of being reinterpreted."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(out_path)
    jpath.getFileSystem(spark._jsc.hadoopConfiguration()).mkdirs(jpath)
    return spark.read.schema(schema).parquet(out_path)


def _run_epoch_sink(
    stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    timeout_s: int,
    what: str,
    batch_result,
    after_write=None,
) -> DataFrame:
    """The serving loop shared by the foreachBatch runners: per
    micro-batch, ``batch_result(batch_df, epoch_id)`` is the batch's
    result frame, written to an ``_epoch``-partitioned parquet sink
    under dynamic partition overwrite (a replayed micro-batch replaces
    its own partition, so the sink stays exactly-once); then
    ``after_write(batch_df, epoch_id)``, if given. Drains with
    Trigger.AvailableNow and returns the sink's rows as a batch DF.

    The read-back schema is the result frame's own. A stream that runs
    no micro-batch takes it from ``batch_result`` over an empty batch
    of the stream's schema."""
    spark = stream.sparkSession
    schema: list[T.StructType] = []

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        result = batch_result(batch_df, int(epoch_id))
        schema[:] = [result.schema]
        (
            result.withColumn("_epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_epoch")
            .parquet(out_path)
        )
        if after_write is not None:
            after_write(batch_df, int(epoch_id))

    _drain_available_now(
        stream.writeStream.foreachBatch(_batch).option("checkpointLocation", checkpoint_dir),
        spark,
        timeout_s,
        what,
    )
    if not schema:
        schema.append(batch_result(parallelize(spark, [], stream.schema), 0).schema)
    return _read_sink(spark, out_path, schema[0]).drop("_epoch")


def run_minhash_index_match_stream(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_s: int = 300,
) -> DataFrame:
    """STREAMING near-dup detection against the stored MinHash index —
    the daily-crawl dedup loop run as a live stream: each micro-batch
    of incoming documents is matched against the write-once corpus
    index (operators.dedup.match_minhash_index) inside foreachBatch,
    and its (new_id, base_id, jaccard) matches land in the
    exactly-once epoch sink of ``_run_epoch_sink``, which returns the
    accumulated matches as a batch DF.

    Why foreachBatch rather than a declarative stream-stream join:
    the match is a multi-stage batch algorithm (rep collapse → band
    join → exact-Jaccard verify) whose aggregations are unbounded
    under streaming semantics, but each MICRO-BATCH is a bounded
    batch DF — foreachBatch runs the identical batch operator
    per batch, so stream and batch results agree exactly
    (asserted in tests). This is also the production shape: the index
    is static within a run; intra-batch/intra-stream duplicates are
    the INCREMENTAL variant's job (dedup_minhash_incremental)."""
    from ..operators import dedup as DD

    return _run_epoch_sink(
        docs_stream, out_path, checkpoint_dir, timeout_s, "minhash-match",
        lambda batch_df, epoch_id: DD.match_minhash_index(
            batch_df, index_path, id_col, text_col, threshold=threshold
        ),
    )


def stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings parquet (one file = one
    micro-batch locally; production reads Kafka/object-store drops —
    only this function changes). Schema probed from the parquet footer
    batch-side, like _events_raw_schema: streaming sources never
    infer."""
    batch = read_parquet(spark, os.path.join(sf_dir, "embeddings.parquet"))
    return (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )


def run_pq_index_append_stream(
    emb_stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    centroids: list[list[float]],
    timeout_s: int = 300,
) -> DataFrame:
    """STREAMING refresh of the stored ANN codes index — the embedding
    twin of run_minhash_index_match_stream's daily-crawl loop: each
    micro-batch of incoming vectors is folded into the write-once PQ
    codes table via operators.similarity.append_pq_codes inside
    foreachBatch (codebook-fingerprint-checked per batch; a drifted
    codebook fails the stream loudly instead of appending
    wrong-codebook codes). Drains with Trigger.AvailableNow and
    returns the resulting codes table as a batch DF.

    Why foreachBatch: the append is a multi-step batch algorithm
    (dimension/NULL filter → anti-join against stored ids → quantize →
    parquet append) — per micro-batch it runs the identical batch
    operator, so stream ≡ batch rebuild exactly (asserted in
    tests/test_streaming.py).

    Exactly-once WITHOUT epoch partitions: append_pq_codes'
    first-writer-wins anti-join IS the replay guard — a micro-batch
    re-delivered from the checkpoint finds its ids already stored and
    appends nothing (and a torn append resumes with only the missing
    rows), so the sink needs no overwrite discipline. That contract
    holds because codes are deterministic in (vector, codebook) and
    ids are the index's identity."""
    spark = emb_stream.sparkSession

    def _append_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from ..operators import similarity as SIM

        SIM.append_pq_codes(batch_df, index_path, centroids)

    _drain_available_now(
        emb_stream.writeStream.foreachBatch(_append_batch)
        .option("checkpointLocation", checkpoint_dir),
        spark,
        timeout_s,
        "pq-append",
    )
    return SI.read_part(spark, index_path, "codes")


def run_phash_index_match_stream(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    k: int = 1,
    timeout_s: int = 300,
) -> DataFrame:
    """STREAMING perceptual-hash matching against the stored pHash
    index — the media twin of run_minhash_index_match_stream: each
    micro-batch of incoming documents becomes media payloads, is
    decoded+hashed in one Arrow pass, and matched against the
    write-once index (operators.multimodal.match_phash_index) inside
    foreachBatch; the (new_id, base_id, hamming) matches go through
    ``_run_epoch_sink``."""
    from ..operators import multimodal as MM

    return _run_epoch_sink(
        docs_stream, out_path, checkpoint_dir, timeout_s, "phash-match",
        lambda batch_df, epoch_id: MM.match_phash_index(
            MM.attach_binary_payload(batch_df, "doc_id", "text"), index_path, k=k
        ),
    )


def run_quality_score_stream(
    docs_stream: DataFrame,
    weights: list[int],
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_s: int = 300,
) -> DataFrame:
    """STREAMING quality scoring with FROZEN classifier weights — the
    serving half of the hashed-n-gram quality filter (train offline
    on the corpus with train_hashed_ngram_weights, score the live
    crawl here): because scoring is a stateless integer projection,
    this is a PURE incremental streaming select + parquet append sink
    — no foreachBatch, no state store, exactly-once from the file
    sink's own commit log. Drains with Trigger.AvailableNow and
    returns the accumulated (id, score, keep) rows as a batch DF, read
    under the projection's own schema. Stream ≡ batch scoring is exact (deterministic per-row integer
    arithmetic; asserted in tests)."""
    from ..operators import text as TX

    spark = docs_stream.sparkSession
    scored = docs_stream.select(
        F.col(id_col),
        TX.hashed_ngram_score(text_col, weights).alias("score"),
    ).withColumn("keep", F.col("score") > 0)
    _drain_available_now(
        scored.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append"),
        spark,
        timeout_s,
        "quality-score",
    )
    return _read_sink(spark, out_path, scored.schema)


def run_quality_score_stream_from_model(
    docs_stream: DataFrame,
    model_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_s: int = 300,
) -> DataFrame:
    """run_quality_score_stream serving FROM THE STORED MODEL
    REGISTRY (operators.text.write_quality_model's artifact): the
    weights and feature geometry are loaded ONCE at stream start —
    load_quality_model's drift/torn guards apply, so a stream can
    never start scoring with a model trained under a different gram
    mix or bucket hash — and the scoring plan is the same stateless
    integer projection. This is the production wiring: the trainer
    publishes a model dir per release, every serving stream (re)starts
    against it by path."""
    from ..operators import text as TX

    w, _ = TX.load_quality_model(docs_stream.sparkSession, model_path)
    return run_quality_score_stream(
        docs_stream, w, out_path, checkpoint_dir,
        id_col=id_col, text_col=text_col, timeout_s=timeout_s,
    )


def run_winnowing_index_match_stream(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 2,
    timeout_s: int = 300,
) -> DataFrame:
    """STREAMING winnowing match against the stored fingerprint index
    — the text twin of run_phash_index_match_stream and the serving
    loop of a MOSS-style decontamination service: each micro-batch of
    incoming documents is fingerprinted with the index's own (k, w)
    and matched (operators.text.match_winnowing_index) inside
    foreachBatch; the (new_id, base_id, n_shared) matches go through
    ``_run_epoch_sink``. The stored index's max epoch is SNAPSHOT at stream start
    and passed as ``before_epoch`` for every micro-batch, so a
    replayed batch — and every live batch — matches against exactly
    the index state the stream started from even if a concurrent
    append lands new epochs mid-stream (note the stream's own
    micro-batch epoch_id numbering is unrelated to the index's epoch
    numbering — forwarding it would be wrong). While no newer epoch
    exists the snapshot filter is vacuous, so the serving call still
    takes the df-side-table fast path (no full-index window). Stream
    == batch matcher is asserted in tests (the matcher is stateless per
    batch against a write-once index, so equality is exact)."""
    from ..operators import text as TX

    # index-state snapshot: everything strictly before this is visible
    idx = TX._open_winnowing(index_path)
    _index_epochs = idx.parts["postings"].keys() if idx is not None else []
    _snap = (max(_index_epochs) + 1) if _index_epochs else 0

    return _run_epoch_sink(
        docs_stream, out_path, checkpoint_dir, timeout_s, "winnowing-match",
        lambda batch_df, epoch_id: TX.match_winnowing_index(
            batch_df, index_path, id_col, text_col,
            min_shared=min_shared, before_epoch=_snap,
        ),
    )


def run_line_dedup_stream(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    width: int = 10,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    timeout_s: int = 300,
) -> DataFrame:
    """STREAMING line-level dedup with an accumulating index — the
    CCNet curation loop run at crawl cadence: each micro-batch of
    documents is cleaned against the segment-frequency index built
    from every PRIOR batch (plus its own within-batch frequencies),
    then its own segment counts land in the index as a new epoch. The
    cleaned documents go through ``_run_epoch_sink``.

    Prefix-causal semantics, stated honestly: a boilerplate segment is
    dropped from batch N only if past batches (or batch N itself)
    already made it frequent — batch 1's copy of a header that only
    repeats in batch 2 SURVIVES, unlike the one-shot batch operator
    (text_line_dedup), which sees the whole corpus. The INDEX, by
    contrast, converges exactly: after the stream drains, the summed
    epoch counts equal the one-shot index (asserted in tests) — so a
    periodic re-clean against the converged index recovers the batch
    answer; that re-clean is the ordinary nightly compaction job.

    Exactly-once: a replayed index epoch replaces its own segment, as
    a replayed micro-batch replaces its sink partition, and the clean
    step passes before_epoch = its own epoch id, so a
    checkpoint REPLAY of epoch N excludes the epoch-N counts its
    failed first attempt may already have landed — replay output is
    bit-identical, not just append-safe."""
    from ..operators import text as TX

    def _clean_batch(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        # the within-batch fallback is ONLY for the no-index-yet first
        # epoch, gated on an explicit manifest probe — a blanket
        # exception catch here would also swallow real defects (bad
        # columns, a corrupt manifest) and quietly emit different
        # output instead of failing the stream
        if SI.exists(index_path):
            return TX.line_dedup_with_index(
                batch_df, index_path, id_col, text_col,
                min_df=min_df, before_epoch=epoch_id,
            )
        # no index yet (first epoch, nothing written): clean against
        # within-batch frequencies only
        return TX.line_dedup_rebuild(
            batch_df, id_col, text_col, width=width, min_df=min_df
        )

    # the batch's counts land in the index only after its cleaned rows
    # are in the sink
    return _run_epoch_sink(
        docs_stream, out_path, checkpoint_dir, timeout_s, "line-dedup",
        _clean_batch,
        after_write=lambda batch_df, epoch_id: TX.write_line_index(
            batch_df, index_path, id_col, text_col, width=width, epoch=epoch_id,
        ),
    )
