"""Query catalog: every operator from SURVEY §2 (plus the LLM-data
operators) registered as a named (spark_fn, oracle_sql) pair.

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin wrappers over
this registry. Each spark_fn takes (spark, sf_dir) and returns a
DataFrame; each oracle is ANSI SQL DuckDB runs on the same parquet
tables (views: region nation customer supplier part orders lineitem
events documents embeddings). Column names are aliased identically on
both sides — the driver's compare sorts columns by name before hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str | Callable[[], str]] = {}

# Stored-index lifecycle entries whose catalog CALL executes the index
# write eagerly and returns the lazy serve query — the call/count
# boundary is their build/serve boundary. The bench harnesses
# (bench.py, tools/bench_scale.py) import this to report the split;
# one definition here so a new lifecycle entry can't silently miss one
# harness.
INDEX_LIFECYCLE_ENTRIES = frozenset(
    {"ann_ivfpq_topk", "text_line_dedup_index"}
)


def query(name: str, oracle: str | Callable[[], str] | None = None):
    """Register a catalog query. ``oracle=None`` → driver runs the weaker
    rows-only check (for non-SQL-expressible ops)."""

    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness gate hashes only the FIRST 50 entries of
# queries(), so this list orders those 50; every other entry follows in
# registration order and stays covered by tools/check_oracle.py, which
# runs all of them.
# Rule for each rotation of the window: the standing keeps below, then
# every entry built or whose engine code changed since the last
# rotation, then the entries whose last gated row is oldest. Keep one
# entry per operator family (test_gate_window_covers_every_family) and
# check every new entry green with check_oracle at sf0.01 and sf0.1
# before freezing. The history of past windows is in git and in the
# VERDICT files.
_PRIORITY = [
    # --- keeps: the bench headline queries
    "flagship_event_counts",
    "tpch_q1",
    "tpch_q6_forecast_revenue",
    "join_multiway_region_revenue",
    "window_topk_per_customer",
    "events_sessionization",
    "asof_last_purchase",
    "dedup_tokenset",
    "dedup_minhash_lsh_fast",  # rows-only by contract
    "ann_cosine_topk",
    "text_quality_features",
    # --- keeps: family pins (test_gate_window_covers_every_family)
    "multimodal_frame_sample",
    "skew_salted_agg",
    "zorder_locality_index",
    "source_mixture_weights",
    "streaming_sessionization",  # rows-only by contract
    # --- current window: the graph entries built or changed in r11,
    # the streaming tail, then the oldest refresh rows
    "graph_random_walks_multi",
    "graph_bfs_levels",
    "graph_random_walks_weighted",
    "graph_random_walks",
    "graph_hits_authorities",
    "graph_pagerank_parts",
    "graph_pagerank_dangling",
    "graph_pagerank_personalized",
    "graph_label_propagation",
    "dedup_components",
    "streaming_static_enrich",
    "streaming_interval_join",
    "streaming_dropdup_watermark",
    "streaming_mincount_sketch",
    "streaming_backfill_available_now",
    "streaming_interval_join_left_outer",
    "ann_ivfpq_rerank_topk",
    "docs_dsir_weights",
    "text_dup_span_removal",
    "ann_pq_recall_at_k",
    "pq_train_codebook_iter",
    "embedding_pq_distortion",
    "decontaminate_span_removal",
    "bpe_pair_counts",
    "bpe_merge_apply",
    "bpe_train_merges",
    "bpe_encode_corpus",
    "mixture_unimax_weights",
    "mixture_temperature_weights",
    "mixture_unimax_sample",
    "embedding_sq8_codes",
    "ann_sq8_sdc_topk",
    "ann_ivf_recall_at_nprobe",
    "multimodal_phash_dedup",
]
# Next in line for the window, in order: token_diversity_index,
# ann_sq8_stored_topk, ann_sq8_recall_at_k, dedup_threshold_sweep,
# source_overlap_matrix, multimodal_curation_pipeline,
# multimodal_phash_index_match, streaming_phash_index_match,
# ann_sq8_append_topk, ann_pq_delete_topk, dedup_minhash_index_delete,
# ann_cosine_topk_batch, text_line_dedup, ann_hybrid_rrf,
# embedding_matryoshka_recall; then the entries last gated in r8, then
# those last gated in r9 (each in registration order), then
# dedup_components_star and the rest last gated in r10.


def _ordered(names: list[str]) -> list[str]:
    pri = [n for n in _PRIORITY if n in names]
    rest = [n for n in names if n not in set(_PRIORITY)]
    return pri + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load()
    return {n: _QUERIES[n] for n in _ordered(list(_QUERIES))}


def oracle_sql() -> dict[str, str]:
    _load()
    return {
        n: (_ORACLES[n]() if callable(_ORACLES[n]) else _ORACLES[n])
        for n in _ordered(list(_ORACLES))
    }


_loaded = False


def _load() -> None:
    global _loaded
    if _loaded:
        return
    _loaded = True
    from . import core  # noqa: F401
    from . import relational  # noqa: F401
    from . import window_ops  # noqa: F401
    from . import events_ops  # noqa: F401
    from . import text_ops  # noqa: F401
    from . import dedup_ops  # noqa: F401
    from . import similarity_ops  # noqa: F401
    from . import multimodal_ops  # noqa: F401
    from . import advanced_ops  # noqa: F401
    from . import tpch_ops  # noqa: F401
    from . import streaming_ops  # noqa: F401
    from . import skew_ops  # noqa: F401
    from . import storage_ops  # noqa: F401
    from . import corpus_ops  # noqa: F401
