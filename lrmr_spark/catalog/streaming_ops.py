"""Streaming catalog entries: run the Structured Streaming pipelines to
completion on the bounded events source and return the sink contents.

These are genuinely non-SQL-expressible (incremental execution,
watermark-driven emission, cross-batch state), so per the driver
contract they carry no oracle and get the rows-only check; the
batch-equivalence assertions live in tests/test_streaming.py.
"""

from __future__ import annotations

import uuid

from .. import streaming as ST
from . import query


@query("streaming_tumbling_counts")  # rows-only: incremental/watermark semantics
def streaming_tumbling_counts(spark, sf_dir):
    """Watermarked 1-hour tumbling counts executed as a real streaming
    query (file micro-batches → memory sink, append mode: only
    watermark-closed windows emit). Batch equivalence is asserted in
    tests/test_streaming.py::test_tumbling_counts_match_batch."""
    name = f"cat_tumbling_{uuid.uuid4().hex[:8]}"
    return ST.run_to_memory(
        ST.tumbling_counts(ST.stream_events(spark, sf_dir)), name, output_mode="append"
    )


@query("streaming_stateful_dedup")  # rows-only: cross-batch custom state
def streaming_stateful_dedup(spark, sf_dir):
    """applyInPandasWithState cross-batch dedup executed end-to-end;
    emits each (user, event) once across all micro-batches."""
    name = f"cat_seen_{uuid.uuid4().hex[:8]}"
    return ST.run_to_memory(
        ST.stateful_seen_filter(ST.stream_events(spark, sf_dir)), name
    )


@query("streaming_ewma")  # rows-only: cross-batch numeric state
def streaming_ewma(spark, sf_dir):
    """Incremental per-user EWMA (exact integer cents) executed as a
    real streaming query with per-user bigint state. Equivalence with
    the batch fold asserted in
    tests/test_streaming.py::test_stateful_ewma_matches_batch_fold."""
    name = f"cat_ewma_{uuid.uuid4().hex[:8]}"
    return ST.run_to_memory(ST.stateful_ewma(ST.stream_events(spark, sf_dir)), name)


@query("streaming_sessionization")  # rows-only: session_window state semantics
def streaming_sessionization(spark, sf_dir):
    """Event-time sessionization via session_window() with a 30-minute
    inactivity gap, executed as a real streaming query — the streaming
    twin of the batch gaps-and-islands events_sessionization entry.
    Session merging/emission is driven by the watermark; state per
    (user, open session) is dropped once the watermark passes the
    session close."""
    name = f"cat_sessions_{uuid.uuid4().hex[:8]}"
    return ST.run_to_memory(
        ST.session_counts(ST.stream_events(spark, sf_dir)), name
    )


@query("streaming_static_enrich")  # rows-only: incremental/watermark semantics
def streaming_static_enrich(spark, sf_dir):
    """Stream-static enrichment join (event stream ⋈ customer dimension
    snapshot) + watermarked tumbling counts per market segment, executed
    as a real streaming query. Batch equivalence asserted in
    tests/test_streaming.py::test_static_enrich_matches_batch."""
    from ..tables import load

    name = f"cat_enrich_{uuid.uuid4().hex[:8]}"
    return ST.run_to_memory(
        ST.static_enrich_counts(
            ST.stream_events(spark, sf_dir), load(spark, sf_dir, "customer")
        ),
        name,
        output_mode="append",
    )


@query("streaming_interval_join")  # rows-only: stream-stream state semantics
def streaming_interval_join(spark, sf_dir):
    """Stream-stream interval join (view→click attribution within 30
    minutes) executed as a real streaming query with watermark-bounded
    join state on both sides. Batch equivalence asserted in
    tests/test_streaming.py::test_interval_join_matches_batch."""
    name = f"cat_ssjoin_{uuid.uuid4().hex[:8]}"
    return ST.run_to_memory(
        ST.view_click_interval_join(
            ST.stream_events(spark, sf_dir), ST.stream_events(spark, sf_dir)
        ),
        name,
    )


@query("streaming_dropdup_watermark")  # rows-only: bounded-state dedup semantics
def streaming_dropdup_watermark(spark, sf_dir):
    """Engine-native dropDuplicatesWithinWatermark executed end-to-end
    on the bounded source: one row per (user_id, event_id), dedup
    state evicted as the watermark advances. Count equivalence with
    batch dropDuplicates is asserted in
    tests/test_streaming.py::test_dropdup_watermark_matches_batch."""
    name = f"cat_dropdup_{uuid.uuid4().hex[:8]}"
    return ST.run_to_memory(
        ST.dedup_within_watermark(ST.stream_events(spark, sf_dir)), name
    )


@query("streaming_mincount_sketch")  # rows-only: incremental/watermark semantics
def streaming_mincount_sketch(spark, sf_dir):
    """Per-window 16-bucket MinCount distinct-sketch state maintained
    incrementally (one min() aggregation, 16 bigints of state per
    group). Read-side estimate equivalence with the batch sketch is
    asserted in tests/test_streaming.py::test_mincount_sketch_matches_batch."""
    name = f"cat_mincount_{uuid.uuid4().hex[:8]}"
    return ST.run_to_memory(
        ST.mincount_sketch_state(ST.stream_events(spark, sf_dir)), name
    )


@query("streaming_backfill_available_now")  # rows-only: trigger/run-mode semantics
def streaming_backfill_available_now(spark, sf_dir):
    """Watermarked tumbling counts executed under Trigger.AvailableNow —
    the backfill/catch-up run mode: drain everything available in
    rate-limited micro-batches (maxFilesPerTrigger still applies), then
    shut down. Same plan, state, and watermark semantics as the
    continuous run; this is how a scheduled incremental job processes a
    day's backlog at scale without an always-on cluster. Result-set
    equivalence with the continuous-trigger run is asserted in
    tests/test_streaming.py::test_available_now_matches_continuous."""
    name = f"cat_backfill_{uuid.uuid4().hex[:8]}"
    return ST.run_available_now(
        ST.tumbling_counts(ST.stream_events(spark, sf_dir)), name, output_mode="append"
    )


@query("streaming_interval_join_left_outer")  # rows-only: watermark-gated null emission
def streaming_interval_join_left_outer(spark, sf_dir):
    """LEFT OUTER stream-stream interval join executed end-to-end:
    matched views emit with their click, unmatched views emit ONCE with
    NULL click columns after the watermark proves no match can arrive.
    Superset/agreement with the inner join is asserted in
    tests/test_streaming.py::test_left_outer_interval_join."""
    name = f"cat_lojoin_{uuid.uuid4().hex[:8]}"
    return ST.run_to_memory(
        ST.view_click_left_outer_join(
            ST.stream_events(spark, sf_dir), ST.stream_events(spark, sf_dir)
        ),
        name,
    )


@query("streaming_minhash_index_match")  # rows-only: foreachBatch run-mode
def streaming_minhash_index_match(spark, sf_dir):
    """The daily-crawl near-dedup loop as a LIVE STREAM: the corpus
    (doc_id MOD 5 <> 0) is materialized once as a stored MinHash index,
    then the incoming-document stream (filtered to the MOD-5 batch) is
    matched against it per micro-batch via foreachBatch — each bounded
    micro-batch runs the identical batch matcher, with matches landing
    in an epoch-partitioned sink under dynamic partition overwrite
    (idempotent under checkpoint replay). Stream/batch equivalence is
    asserted in tests/test_streaming.py."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from ..operators import dedup as DD
    from ..tables import load

    docs = load(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    index = os.path.join(tempfile.gettempdir(), f"lrmr_minhash_stream_{tag}")
    DD.write_minhash_index(
        docs.filter(F.col("doc_id") % 5 != 0),
        "doc_id",
        "text",
        index,
        num_hashes=16,
        bands=2,
        fast=False,
    )
    run = uuid.uuid4().hex[:8]
    out = os.path.join(tempfile.gettempdir(), f"lrmr_minhash_stream_out_{run}")
    ckpt = os.path.join(tempfile.gettempdir(), f"lrmr_minhash_stream_ck_{run}")
    matches = ST.run_minhash_index_match_stream(
        ST.stream_documents(spark, sf_dir).filter(F.col("doc_id") % 5 == 0),
        index,
        out,
        ckpt,
        threshold=0.9,
    )
    return matches.orderBy("new_id", "base_id")


@query("streaming_pq_index_append")  # rows-only: foreachBatch append loop
def streaming_pq_index_append(spark, sf_dir):
    """The ANN index's daily-crawl refresh as a live stream (the
    streaming_minhash_index_match discipline, write side): the codes
    index is written once from the base corpus (vec_id % 5 ≠ 0), the
    embedding stream folds every micro-batch in via append_pq_codes
    inside foreachBatch (first-writer-wins anti-join = the replay
    guard, so checkpoint re-delivery appends nothing), and the entry
    returns the post-refresh ADC top-10 — the production read after a
    refresh. Deterministic codes ⇒ the final index equals a one-shot
    build over the full corpus (stream ≡ batch asserted in
    tests/test_streaming.py); the top-10 therefore matches
    ann_pq_adc_topk's values even though this rows-only entry carries
    no oracle (the append's value check lives in ann_pq_append_topk's
    hash-green row)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from ..operators import similarity as SIM
    from ..tables import load
    from .similarity_ops import _centroids, _query_vec

    cents = [list(c) for c in _centroids()[:4]]
    run = uuid.uuid4().hex[:8]
    base_dir = os.path.join(tempfile.gettempdir(), f"lrmr_stream_pq_{run}")
    path = os.path.join(base_dir, "idx")
    ck = os.path.join(base_dir, "ck")
    emb = load(spark, sf_dir, "embeddings")
    SIM.write_pq_codes(
        emb.filter(F.col("vec_id") % 5 != 0), path, cents, num_sub=8
    )
    ST.run_pq_index_append_stream(
        ST.stream_embeddings(spark, sf_dir), path, ck, cents
    )
    return SIM.pq_adc_topk_stored(spark, path, list(_query_vec()), cents, k=10)


@query("streaming_line_dedup")  # rows-only: foreachBatch accumulating loop
def streaming_line_dedup(spark, sf_dir):
    """The CCNet line-dedup curation loop as a LIVE STREAM: each
    micro-batch of documents is cleaned against the segment-frequency
    index accumulated from prior batches (prefix-causal), then lands
    its own counts as a new index epoch — an epoch-partitioned output
    sink and a replay-replaced index epoch, with before_epoch-scoped
    reads so a checkpoint replay is bit-identical. Stream-index ≡ one-shot-index convergence
    and multi-batch prefix-causal semantics are asserted against a
    plain-python model in tests/test_streaming.py."""
    import os
    import tempfile
    import uuid

    run = uuid.uuid4().hex[:8]
    index = os.path.join(tempfile.gettempdir(), f"lrmr_linestream_idx_{run}")
    out = os.path.join(tempfile.gettempdir(), f"lrmr_linestream_out_{run}")
    ckpt = os.path.join(tempfile.gettempdir(), f"lrmr_linestream_ck_{run}")
    cleaned = ST.run_line_dedup_stream(
        ST.stream_documents(spark, sf_dir),
        index,
        out,
        ckpt,
        width=10,
        min_df=2,
    )
    return cleaned.orderBy("doc_id")


@query("streaming_winnowing_index_match")  # rows-only: foreachBatch run-mode
def streaming_winnowing_index_match(spark, sf_dir):
    """The MOSS-style decontamination service as a LIVE STREAM (the
    streaming_phash_index_match discipline for the winnowing family):
    the base corpus's fingerprint index is written once (even
    doc_ids), then the incoming-document stream (odd doc_ids) is
    fingerprinted and matched per micro-batch via foreachBatch,
    matches landing in an epoch-partitioned sink under dynamic
    partition overwrite (idempotent under checkpoint replay). Stream
    ≡ batch matcher asserted in tests/test_streaming.py; the match's
    value check lives in text_winnowing_index's hash-green row."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from ..operators import text as TX
    from ..tables import load

    docs = load(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_win_sidx_{tag}")
    TX.write_winnowing_index(
        docs.filter(F.col("doc_id") % 2 == 0), path, "doc_id", "text", epoch=0
    )
    run = uuid.uuid4().hex[:8]
    out = os.path.join(tempfile.gettempdir(), f"lrmr_win_stream_out_{run}")
    ckpt = os.path.join(tempfile.gettempdir(), f"lrmr_win_stream_ck_{run}")
    matches = ST.run_winnowing_index_match_stream(
        ST.stream_documents(spark, sf_dir).filter(F.col("doc_id") % 2 == 1),
        path,
        out,
        ckpt,
        min_shared=2,
    )
    return matches.orderBy("new_id", "base_id")


@query("streaming_quality_score")  # rows-only: incremental run-mode
def streaming_quality_score(spark, sf_dir):
    """The quality classifier's SERVING loop: weights trained offline
    on the static corpus (operators.text.train_hashed_ngram_weights —
    the same exact-integer rounds docs_quality_classifier
    value-checks), then the document stream is scored as a PURE
    incremental streaming projection into a parquet append sink — no
    foreachBatch, no state: the stateless-scoring shape a filter
    actually deploys at crawl time. Stream ≡ batch scoring asserted
    in tests/test_streaming.py; the training math's value check lives
    in docs_quality_classifier's hash-green row."""
    import os
    import tempfile
    import uuid

    from ..catalog.corpus_ops import _QC_TEACHER
    from ..operators import text as TX
    from ..tables import load

    docs = load(spark, sf_dir, "documents")
    w = TX.train_hashed_ngram_weights(docs, "text", _QC_TEACHER, iterations=3)
    run = uuid.uuid4().hex[:8]
    out = os.path.join(tempfile.gettempdir(), f"lrmr_qscore_out_{run}")
    ckpt = os.path.join(tempfile.gettempdir(), f"lrmr_qscore_ck_{run}")
    scored = ST.run_quality_score_stream(
        ST.stream_documents(spark, sf_dir), w, out, ckpt
    )
    return scored.orderBy("doc_id")


@query("streaming_sliding_counts")  # rows-only: incremental/watermark semantics
def streaming_sliding_counts(spark, sf_dir):
    """Watermarked sliding-window counts (1-hour windows every 30
    minutes — each event lands in two overlapping windows) executed as
    a real streaming query (file micro-batches → memory sink, append
    mode: only watermark-closed windows emit). The sliding twin of
    streaming_tumbling_counts, completing the streaming window-shape
    set (tumbling / SLIDING / session); batch equivalence asserted in
    tests/test_streaming.py."""
    name = f"cat_sliding_{uuid.uuid4().hex[:8]}"
    return ST.run_to_memory(
        ST.sliding_counts(ST.stream_events(spark, sf_dir)), name,
        output_mode="append",
    )
