"""Catalog-registry contracts: the driver's correctness gate hashes
only the FIRST 50 entries of queries(), so ordering is load-bearing —
every operator family (catalog module) must land at least one entry in
the gate window, and every priority name must actually exist."""

from lrmr_spark import catalog


def test_priority_names_all_registered():
    names = set(catalog.queries())
    missing = [n for n in catalog._PRIORITY if n not in names]
    assert not missing, f"_PRIORITY references unregistered queries: {missing}"


def test_gate_window_covers_every_family():
    qs = catalog.queries()
    gate = list(qs)[:50]
    by_module: dict[str, list[str]] = {}
    for name, fn in qs.items():
        by_module.setdefault(fn.__module__.rsplit(".", 1)[-1], []).append(name)
    uncovered = {
        mod: names
        for mod, names in by_module.items()
        if not any(n in gate for n in names)
    }
    assert not uncovered, f"families with no entry in the first-50 gate: {uncovered}"


def test_oracle_duckdb_types_are_portable():
    """The driver's value hash is type-sensitive: a DuckDB column that
    widens to HUGEINT (e.g. a bare sum(CASE...) or an integer division
    whose numerator is a sum-window) red-hashes against Spark's BIGINT
    even when every value matches (r3's only red gate row,
    stratified_sample_by_lang). Pin the whole class: every oracle's
    DuckDB result schema must stay inside the portable scalar set that
    Spark produces natively. Fix sites by wrapping the aggregate in
    CAST(... AS BIGINT) — never by weakening this list."""
    import duckdb

    oracles = catalog.oracle_sql()
    con = duckdb.connect()
    sf = "/root/testdata/sf0.01"
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    allowed = {"BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "DATE", "TIMESTAMP", "BOOLEAN"}
    bad = []
    for name, sql in oracles.items():
        rel = con.sql(sql)
        for c, ty in zip(rel.columns, rel.types):
            if str(ty) not in allowed:
                bad.append((name, c, str(ty)))
    assert not bad, f"non-portable oracle output types (CAST them): {bad}"


def test_every_query_has_oracle_or_is_documented_rows_only():
    qs = catalog.queries()
    oracles = catalog.oracle_sql()
    rows_only = set(qs) - set(oracles)
    # the only legitimate rows-only entries: non-SQL-expressible ops
    assert rows_only <= {
        "approx_stats",  # sketch internals engine-specific
        "streaming_tumbling_counts",  # incremental/watermark semantics
        "streaming_stateful_dedup",  # cross-batch custom state
        "streaming_interval_join",  # stream-stream join state semantics
        "streaming_static_enrich",  # incremental/watermark semantics
        "streaming_sessionization",  # session_window state semantics
        "streaming_ewma",  # cross-batch numeric state
        "streaming_dropdup_watermark",  # bounded-state dedup semantics
        "streaming_mincount_sketch",  # incremental sketch-state semantics
        "streaming_backfill_available_now",  # trigger/run-mode semantics
        "streaming_interval_join_left_outer",  # watermark-gated null emission
        "streaming_minhash_index_match",  # foreachBatch run-mode; stream ==
        # batch matcher asserted in tests/test_streaming.py
        "streaming_pq_index_append",  # foreachBatch run-mode; stream ==
        # batch rebuild asserted in tests/test_streaming.py; append
        # values hash-checked by ann_pq_append_topk
        "streaming_phash_index_match",  # foreachBatch run-mode; stream ==
        # batch matcher asserted in tests/test_streaming.py; match
        # values hash-checked by multimodal_phash_index_match
        "streaming_winnowing_index_match",  # foreachBatch run-mode;
        # stream == batch matcher asserted in tests/test_streaming.py;
        # match values hash-checked by text_winnowing_index
        "streaming_quality_score",  # incremental run-mode (stateless
        # scoring projection); stream == batch asserted in
        # tests/test_streaming.py; training math hash-checked by
        # docs_quality_classifier
        "streaming_sliding_counts",  # incremental/watermark semantics;
        # batch equivalence asserted in tests/test_streaming.py
        "streaming_line_dedup",  # foreachBatch accumulating loop;
        # prefix-causal clean + index convergence asserted vs a
        # plain-python model in tests/test_streaming.py; the stored-
        # index clean itself is hash-checked by text_line_dedup_index
        "dedup_minhash_lsh_fast",  # xxhash64 not reproducible in SQL
        "dedup_simhash_hamming_fast",  # xxhash64 bits not in SQL;
        # algorithm pinned by the oracle-checked 16-bit twin +
        # brute-force property test
    }, rows_only


def test_banding_lossless_brute_arm_guard_trips(spark):
    """r6 verdict task 3: the O(reps²) diagnostic arm of the
    banding-losslessness gate row must REFUSE corpora whose
    distinct-signature count exceeds the bound, so a future gate run
    at corpus scale fails loudly instead of launching a quadratic
    cross join."""
    import pytest

    from lrmr_spark.catalog.dedup_ops import _banding_vs_brute_diffs

    docs = spark.createDataFrame(
        [(i, f"synthetic wide corpus document number {i} alpha beta {i * 7}")
         for i in range(24)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="O\\(reps²\\)"):
        _banding_vs_brute_diffs(docs, k=3, max_reps=5)
    # under the bound the diagnostic still runs (and finds no
    # disagreement on distinct texts)
    assert _banding_vs_brute_diffs(docs, k=3, max_reps=1000).count() >= 0


def test_banding_lossless_brute_arm_honours_k(spark):
    """Both arms of the banding-losslessness diagnostic use the same
    Hamming bound: at k=2 the brute arm must not keep the distance-3
    pairs the banded arm drops."""
    from lrmr_spark.catalog.dedup_ops import _banding_vs_brute_diffs
    from lrmr_spark.operators import dedup as DD

    base = " ".join(f"w{j}" for j in range(30))
    docs = spark.createDataFrame(
        [(i, f"{base} x{i}") for i in range(40)], "doc_id long, text string"
    )
    pairs = DD.simhash64_hamming_pairs(docs, "doc_id", "text", k=3)
    assert pairs.filter("hamming = 3").count() > 0  # the k=2 arms must cut these
    assert _banding_vs_brute_diffs(docs, k=2).collect() == []
