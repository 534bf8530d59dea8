"""Text-analysis operators for training-data pipelines.

All column-expression builders (JVM-side, whole-stage codegen; zero
Python in the hot path): tokenization, quality scoring, language-ID
heuristic, fingerprinting, shingling. Every function returns Columns so
operators compose inside a single projection — one scan, no shuffles.

The portable hash primitive is md5 (identical output in Spark, DuckDB,
and Python's hashlib), which makes every operator oracle-checkable; the
non-portable fast path (xxhash64) is offered where noted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import stored_index as SI
from ..sources import parallelize
from ._iterloop import release_checkpoint

# Serving-path broadcast gate for the banned-fingerprint frame (the
# over-max_df template noise anti-joined out of a match batch). On any
# sane corpus `df > max_df` keeps it boilerplate-sized, but a
# pathological template-heavy corpus grows it without bound — so the
# broadcast is gated on a driver-known count (one pushed-filter scan of
# the narrow df side table) instead of assumed, mirroring graph.py's
# _KEEP_BCAST_MAX pattern. Above the gate the anti-join runs as a
# regular shuffle join.
_BANNED_BCAST_MAX = 2_000_000
_WINNOW_PARAMS = ("k", "w", "max_df", "hash", "id_col")
_LINE_PARAMS = ("width", "hash", "id_col")
_QM_PARAMS = ("n_buckets", "iterations", "feature", "hash", "teacher_fp")

__all__ = [
    "tokens",
    "token_count",
    "distinct_tokens",
    "quality_features",
    "language_scores",
    "language_id",
    "fingerprint",
    "shingles",
    "STOPWORDS",
    "winnowing_fingerprints",
    "winnowing_postings",
    "winnowing_matches",
    "write_winnowing_index",
    "match_winnowing_index",
    "compact_winnowing_index",
    "delete_winnowing_index_ids",
    "hashed_ngram_features",
    "hashed_ngram_score",
    "train_hashed_ngram_weights",
    "hashed_ngram_classifier",
    "dup_token_spans",
]

# deterministic English stopword marker set used by quality scoring and
# the language-ID heuristic (the heuristic's *spec* is this list — the
# oracle SQL embeds the same list)
STOPWORDS = ("the", "a", "an", "of", "and", "or", "to", "in", "is", "it")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; empty strings filtered (so leading/
    trailing/double spaces don't produce ghost tokens)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def chunk_documents(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Fixed-token chunk WINDOWS with overlap + provenance — the
    standard pre-embedding step of a retrieval/embedding pipeline
    (documents are longer than an embedding model's context, so they
    are split into ``chunk_tokens``-token windows that overlap by
    ``overlap`` tokens and each window is embedded separately, keyed
    back to its source span). Output: one row per chunk —
    (id, chunk_idx, chunk_text, n_tokens, char_start, char_end).
    Char spans index into the WHITESPACE-NORMALIZED text (tokens
    joined by single spaces — the same text the chunk_text column is
    built from), so ``normalized[char_start:char_end] == chunk_text``
    exactly.

    Boundary rule (pure integer arithmetic, engine-portable): window
    starts are 0, s, 2s, … with stride s = chunk_tokens − overlap; a
    trailing start whose window would be FULLY CONTAINED in the
    previous window (start ≥ n_tokens − overlap, possible only for
    the last start) is dropped, so every emitted chunk contributes at
    least one new token. A document shorter than chunk_tokens yields
    exactly one chunk; an empty document yields none.

    100 TB shape: pure map-side column work — tokenize once per doc,
    ``sequence`` + array ``filter`` for the starts, one posexplode
    (the only row expansion), ``slice``/``array_join`` per chunk —
    zero shuffles, zero UDFs, nothing wide. char_start is a prefix
    sum over a token-LENGTH array slice (integer adds; O(tokens ×
    chunks/doc) per doc — bounded by document length, never by corpus
    size), not a prefix string join."""
    if not 0 <= int(overlap) < int(chunk_tokens):
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got overlap={overlap}, "
            f"chunk_tokens={chunk_tokens}"
        )
    stride = int(chunk_tokens) - int(overlap)
    base = df.select(F.col(id_col), tokens(text_col).alias("_toks")).select(
        id_col,
        "_toks",
        F.size("_toks").alias("_n"),
        F.transform("_toks", lambda t: F.length(t).cast("bigint")).alias(
            "_lens"
        ),
    )
    starts = F.filter(
        F.sequence(
            F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(stride)
        ),
        lambda s: (s == F.lit(0)) | (s < F.col("_n") - F.lit(int(overlap))),
    )
    ex = base.select(
        id_col,
        "_toks",
        "_lens",
        F.posexplode(starts).alias("chunk_idx", "_start"),
    )
    chunk = F.slice("_toks", F.col("_start") + 1, F.lit(int(chunk_tokens)))
    staged = ex.select(
        id_col,
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        # first `_start` token lengths + `_start` joining spaces; the
        # aggregate (an interpreted HOF) is evaluated ONCE here and
        # char_end derives from the materialized column (pitfall 16)
        F.when(F.col("_start") == 0, F.lit(0).cast("bigint"))
        .otherwise(
            F.aggregate(
                F.slice("_lens", 1, F.col("_start")),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            )
            + F.col("_start")
        )
        .alias("char_start"),
    )
    return staged.filter(F.col("n_tokens") > 0).withColumn(
        "char_end",
        (F.col("char_start") + F.length("chunk_text")).cast("bigint"),
    )


def distinct_tokens(col: Column | str) -> Column:
    return F.array_sort(F.array_distinct(tokens(col)))


def quality_features(col: Column | str) -> dict[str, Column]:
    """Quality-scoring features: length, token stats, stopword ratio,
    punctuation ratio. Use for filtering low-quality training docs."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_tok = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_chars = F.length(c)
    n_punct = n_chars - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return {
        "n_chars": n_chars.cast("bigint"),
        "n_tokens": n_tok.cast("bigint"),
        "avg_token_len": F.round(
            (n_chars - (n_tok - 1)) / F.greatest(n_tok, F.lit(1)), 4
        ),
        "stopword_ratio": F.round(n_stop / F.greatest(n_tok, F.lit(1)), 4),
        "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4),
    }


def language_scores(col: Column | str) -> Column:
    """Stopword-marker score: fraction of tokens that are English
    stopword markers. A real deployment plugs per-language marker sets
    or an n-gram model in the same shape."""
    toks = tokens(col)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return n_stop / F.greatest(F.size(toks), F.lit(1))


def language_id(col: Column | str, threshold: float = 0.03) -> Column:
    """Heuristic language-ID: 'en' when the stopword-marker ratio clears
    ``threshold``, else 'unknown'. Deterministic spec, oracle-checkable."""
    return F.when(language_scores(col) >= threshold, "en").otherwise("unknown")


def fingerprint(col: Column | str) -> Column:
    """Canonical document fingerprint: md5 of the lowercased,
    whitespace-collapsed, trimmed text. Survives formatting noise;
    identical in DuckDB/Python md5."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.md5(normalized)


def shingles(col: Column | str, k: int = 3) -> Column:
    """k-token shingles (n-grams of the token stream) as strings —
    the input units for MinHash / Jaccard near-dup detection. JVM-side,
    no explode, no Python. Semantics (mirrored by
    catalog/oracle_util.grams_expr): n ≥ k → the n−k+1 full-width
    grams; 0 ≤ n < k → exactly ONE clamped gram holding all tokens
    ('' when the doc is empty).

    Formulation: ``arrays_zip`` of k length-(n−k+1) shifted slices,
    joined per element. The obvious alternative —
    ``transform(sequence(...), i -> array_join(slice(toks, i+1, k)))``
    — is the ARCHITECTURE pitfall-16 shape: ``toks`` is an outer
    SUBTREE inside the lambda, so every element re-runs the whole
    split-and-filter tokenization → O(n²) per document (measured 6.0 s
    vs 1.0 s for the gram stream at sf1, k=2 — invisible to every
    value check). Here the inner transform's lambda touches ONLY its
    element variable (the zipped struct), and ``toks`` is evaluated a
    constant ~k+3 times per row (once per slice + size/fallback) —
    O(k·n) per document."""
    toks = tokens(col)
    n = F.size(toks)
    width = F.greatest(n - (k - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, width) for j in range(k)])
    full = F.transform(
        zipped, lambda z: F.concat_ws(" ", *[z[str(j)] for j in range(k)])
    )
    return F.when(n >= k, full).otherwise(F.array(F.array_join(toks, " ")))


def winnowing_fingerprints(col: Column | str, k: int = 3, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03): hash every k-gram, slide a window of ``w`` consecutive
    gram hashes, keep each window's MINIMUM — the selected set is a
    position-robust fingerprint with guaranteed density (any match of
    length ≥ w+k−1 shares a fingerprint), the standard primitive for
    plagiarism / substring-dup detection at corpus scale.

    Hashes are md5-hex prefixes so the min ordering is engine-portable
    (the same trick the MinHash oracle uses — min over uniform hex
    strings is a valid min-hash). Pure per-row JVM transforms, zero
    shuffles; returns the SORTED DISTINCT fingerprint array.

    The window sweep runs inside ``transform(array(hashes), ...)`` so
    the inner lambda slices an outer-lambda VARIABLE: slicing the
    ``hashes`` subtree directly would re-run the whole md5 gram chain
    per window — interpreted HOFs don't CSE their children
    (ARCHITECTURE pitfall 16, the r4 O(n²) shape measured at 224 s for
    5000 × ~200-token docs; the wrapper makes this linear). For
    TABLE-scale fingerprinting still prefer ``winnowing_postings`` —
    the posexplode + sliding window-min plan whose WindowExec shares
    one sorted pass across all positions.
    """
    grams = shingles(col, k)
    hashes = F.transform(
        grams, lambda g: F.substring(F.md5(F.concat(F.lit("w:"), g)), 1, 8)
    )

    def _select(hv):
        n_windows = F.greatest(F.size(hv) - w + 1, F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda i: F.array_min(F.slice(hv, i, w)),
        )

    return F.array_sort(
        F.array_distinct(F.transform(F.array(hashes), _select)[0])
    )


def winnowing_postings(
    df,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
):
    """Winnowing fingerprint POSTINGS — (id, fp) rows, one per distinct
    selected window-minimum per document; the table-scale form of
    ``winnowing_fingerprints`` (identical selected set, same md5-prefix
    hashes, bit-for-bit).

    Spark-first plan instead of the nested-HOF Column form: posexplode
    the k-gram stream to (doc, pos, gram) rows, hash each gram ONCE
    (codegen'd md5 projection), then take the sliding minimum with a
    window frame ``rowsBetween(0, w−1)`` partitioned by doc — Spark's
    WindowExec computes all per-position minima in one sorted pass, so
    total work is O(tokens·w) with every gram hashed exactly once
    (the Column form re-evaluates the gram chain per window — O(n²)
    per doc, measured 224 s vs ~3 s at sf0.1). Tail windows shorter
    than w are dropped (pos ≤ n−w), except that a doc shorter than w
    grams keeps its single clamped window (pos 0) — exactly the
    slice-clamp semantics of the Column form and the SQL oracle.

    100 TB shape: ONE doc-keyed exchange of narrow (id, pos, 8-char
    hash) rows + an in-partition sort; no arrays ride the shuffle, no
    interpreted HOFs, no checkpoint barrier needed downstream."""
    from pyspark.sql import Window as W

    g = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(shingles(text_col, k)).alias("_pos", "_g"),
    )
    h = g.select(
        "_id",
        "_pos",
        F.substring(F.md5(F.concat(F.lit("w:"), F.col("_g"))), 1, 8).alias("_h"),
    )
    slide = W.partitionBy("_id").orderBy("_pos").rowsBetween(0, w - 1)
    per_doc = W.partitionBy("_id")
    scored = h.select(
        "_id",
        "_pos",
        F.min("_h").over(slide).alias("fp"),
        F.count(F.lit(1)).over(per_doc).alias("_n"),
    )
    return (
        scored.filter(
            F.col("_pos") <= F.greatest(F.col("_n") - w, F.lit(0))
        )
        .select("_id", "fp")
        .distinct()
    )


def winnowing_matches(
    df,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
):
    """Substring-duplicate MATCH pairs over winnowing fingerprints —
    the consumer of winnowing_fingerprints (Schleimer et al. SIGMOD'03
    §5: MOSS ranks document pairs by shared selected fingerprints):
    pairs of documents sharing ≥ ``min_shared`` winnowed k-gram
    window-minima. By the winnowing guarantee, any shared token run of
    length ≥ w+k−1 contributes at least one shared fingerprint, so
    pairs with several shared fingerprints share several distinct (or
    one long) verbatim passages — the plagiarism / boilerplate-reuse
    signal exact- and near-dedup both miss (a 200-token doc quoting 20
    tokens of another has tiny global Jaccard).

    Plan (the inverted-index join shape, cross_doc_ngram_exposure's
    plan): winnowing_postings' windowed selection → (doc, fp) postings
    → self-join on fp → count per pair. Document BODIES never shuffle
    — only 8-hex-char fingerprints and ids. Per-fingerprint join
    fanout is df², so ``max_df`` optionally drops fingerprints
    appearing in more than that many documents (MOSS's own boilerplate
    guard — ubiquitous fingerprints are template noise AND the
    quadratic blowup; the same df-band idea as text_sparse_dot_topk).
    Output: (id_a, id_b, n_shared) with id_a < id_b.

    Output volume is Σ C(cluster, 2) over substring-dup clusters —
    quadratic in duplication factor, like the containment join.
    Measured on the ×10-salted rehearsal dir (BENCH_r5_newops.json):
    10× input → 72,000× output pairs in 5.5× the time — the engine
    absorbs it, but on heavily duplicated corpora run exact/near
    dedup first or set max_df (a K-duplicated doc pushes every one of
    its fingerprints to df ≥ K, so the cap removes exactly those
    clusters' fanout)."""
    from pyspark.sql import functions as F  # noqa: F811 (local alias)

    post = winnowing_postings(df, id_col, text_col, k, w).select(
        "_id", F.col("fp").alias("_fp")
    )
    if max_df is not None:
        from pyspark.sql import Window as W

        post = post.withColumn(
            "_df", F.count(F.lit(1)).over(W.partitionBy("_fp"))
        ).filter(F.col("_df") <= max_df).drop("_df")
    pairs = (
        post.alias("l")
        .join(post.alias("r"), on="_fp")
        .filter(F.col("l._id") < F.col("r._id"))
        .groupBy(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    return pairs.filter(F.col("n_shared") >= min_shared)


def _open_winnowing(path: str):
    """The stored winnowing index at ``path``, or None when there is
    none (callers branch on absence)."""
    try:
        return SI.open_index(path, "winnowing", _WINNOW_PARAMS)
    except FileNotFoundError:
        return None


def _merge_winnowing_df(spark, path: str, idx, inc, dec) -> SI.Part:
    """A new ``df`` segment: the per-fp document-frequency side table
    with (fp, _delta) increments/decrements merged in — the maintained
    statistic that lets the matcher ban over-df fingerprints WITHOUT
    re-windowing the full posting table per serving call. Counts are
    DISTINCT indexed documents per fingerprint (exactly what the
    read-time window computed). Merge = union the current table with
    the deltas, sum per fp, drop non-positive rows, written in ONE
    pass while the old segments stay in place."""
    frames = []
    if idx is not None:
        frames.append(
            idx.read(spark, "df").select("fp", F.col("df").alias("_delta"))
        )
    for d in (inc, dec):
        if d is not None:
            frames.append(d.select("fp", F.col("_delta").cast("bigint")))
    merged = frames[0]
    for f in frames[1:]:
        merged = merged.unionByName(f)
    merged = (
        merged.groupBy("fp")
        .agg(F.sum("_delta").cast("bigint").alias("df"))
        .filter(F.col("df") > 0)
    )
    return SI.write_part(merged, path, "df")


def write_winnowing_index(
    df,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    max_df: int = 8,
    epoch: int = 0,
) -> None:
    """Write one EPOCH of the stored winnowing fingerprint index —
    the persisted lifecycle for the MOSS-style substring-dup /
    decontamination service (Schleimer et al. SIGMOD'03 §5: the
    server keeps the corpus's selected fingerprints and every new
    submission is matched against them): rows are (id, fp) postings
    from ``winnowing_postings``, landed as the ``_epoch`` = ``epoch``
    segment of part ``postings``, so the index is APPEND-ONLY and a
    replayed epoch (checkpoint recovery) replaces its own segment
    instead of double-posting — the write_line_index discipline.
    Appending a crawl batch = writing its postings as a new epoch;
    postings are per-document, so append ≡ rebuild EXACTLY (asserted
    in tests; no cross-document state exists at write time — the
    df-cap is a READ-side decision recorded in the params).

    The params record (k, w, max_df, hash convention): a later epoch
    written at different k/w would select different grams and
    silently never match the earlier epochs, so the write raises on
    parameter drift (the codebook-fingerprint discipline).

    The per-fp document-frequency side table (part ``df``) is
    maintained INCREMENTALLY here (and by delete; compaction leaves
    it untouched — folding preserves the distinct (id, fp) multiset):
    the new epoch's postings are anti-joined against the OTHER epochs
    to find first-appearance pairs (the stored side is scanned ONCE,
    narrowly, pre-filtered by a broadcast semi-join on the batch's own
    fingerprints — no stored-side shuffle), and a replayed epoch's old
    contribution is decremented the same way, so replay nets to zero.
    This moves the df cost from EVERY serving call (the old read-time
    window over the full index) to each maintenance op — the
    write-amplified/read-optimized trade a serving index wants.
    Postings and df land under one manifest commit.

    100 TB shape: the index stores only (id, 8-hex fp) — ~16 bytes a
    posting, no text; each epoch write is the one doc-keyed
    winnowing exchange plus a partition-local sink plus the narrow
    df-maintenance scan."""
    spark = df.sparkSession
    idx = _open_winnowing(path)
    if idx is not None:
        drift = {
            n: (idx.params[n], int(v))
            for n, v in (("k", k), ("w", w), ("max_df", max_df))
            if idx.params[n] != int(v)
        }
        if drift:
            raise ValueError(
                f"winnowing-index parameter drift: stored epochs used "
                f"{ {n: v[0] for n, v in drift.items()} }, this write "
                f"supplied { {n: v[1] for n, v in drift.items()} } — "
                f"mixed selections never match across epochs"
            )
    epoch = int(epoch)
    # the epoch lands FIRST, computed and written in ONE pass; the
    # df-delta inputs below derive from a narrow read-back of the
    # segment just written (guide §5/§6)
    new_post = SI.write_part(
        winnowing_postings(df, id_col, text_col, k, w).select(
            F.col("_id").alias("id"), "fp", F.lit(epoch).alias("_epoch")
        ),
        path,
        "postings",
        key="_epoch",
    )
    post_rb = new_post.read(spark, path, "postings").select("id", "fp")
    postings = new_post
    inc, dec_src = post_rb, None
    if idx is not None:
        stored = idx.parts["postings"]
        postings = stored.where_key(lambda e: e != epoch).plus(new_post)
        replayed = stored.where_key(lambda e: e == epoch)
        old_e = (
            idx.read(spark, "postings", replayed).select("id", "fp")
            if replayed.segments
            else None
        )
        if stored.segments:
            probe = post_rb.select("fp").distinct()
            if old_e is not None:
                probe = probe.union(old_e.select("fp")).distinct()
            # pairs from OTHER epochs sharing a fingerprint with this
            # batch: a narrow stored-side scan behind a broadcast
            # semi-join, left LAZY — it folds into the one df-merge job
            hit = (
                idx.read(spark, "postings", stored.where_key(lambda e: e != epoch))
                .select("id", "fp")
                .join(F.broadcast(probe), "fp", "left_semi")
                .distinct()
            )
            inc = post_rb.join(hit, ["id", "fp"], "left_anti")
            if old_e is not None:
                dec_src = old_e.join(hit, ["id", "fp"], "left_anti")
    inc = inc.groupBy("fp").agg(F.count(F.lit(1)).cast("bigint").alias("_delta"))
    dec = (
        dec_src.groupBy("fp").agg(
            (-F.count(F.lit(1))).cast("bigint").alias("_delta")
        )
        if dec_src is not None
        else None
    )
    SI.commit(
        path,
        "winnowing",
        {"k": int(k), "w": int(w), "max_df": int(max_df), "hash": "md5-8",
         "id_col": id_col},
        {"postings": postings, "df": _merge_winnowing_df(spark, path, idx, inc, dec)},
    )


def match_winnowing_index(
    df,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shared: int = 2,
    before_epoch: int | None = None,
    use_df_table: bool = True,
) -> DataFrame:
    """Match a batch of NEW documents against the stored winnowing
    index: fingerprint the batch with the INDEX'S OWN (k, w) from its
    params, join on fingerprint against the stored postings, count
    shared fingerprints per (new, indexed) document pair, keep pairs
    with ≥ ``min_shared`` — the submission-vs-corpus half of
    winnowing_matches (which self-joins one corpus). Hamming of ≥
    min_shared shared window-minima ⇒ shared verbatim runs of length
    ≥ w+k−1 — the plagiarism / benchmark-contamination signal.

    The MOSS boilerplate guard applies with the recorded ``max_df``:
    stored fingerprints appearing in more than max_df indexed
    documents are template noise AND the quadratic join fanout, so
    they are dropped before pairing. The SERVING path reads the banned
    set off the maintained per-fp document-frequency side table (part
    ``df``, kept exact by write/append/delete; compaction is
    df-invariant): over-df fingerprints are anti-joined out of the
    BOUNDED batch side (equivalent to dropping them from the stored
    side — a banned fp produces no pairs either way), the batch is
    broadcast into the stored postings scan, and cross-epoch re-lands
    of the same (id, fp) are collapsed by counting DISTINCT shared
    fingerprints per pair — so a serving call is ONE narrow stored
    scan with ZERO stored-side shuffles and no full-index window.
    ``use_df_table=False`` (and any restricted ``before_epoch`` view,
    where the global df table does not apply) falls back to computing
    df at read time with a window over the deduped stored postings —
    kept as the equivalence check the tests pin against the fast path.

    ``before_epoch`` restricts the stored side to earlier epochs —
    the streaming twin snapshots max(stored epoch)+1 at STREAM START
    and passes it for every micro-batch, so checkpoint replay and
    mid-stream appends cannot change a batch's answer.

    Output: (new_id, base_id, n_shared). Scale shape: only 8-hex
    fingerprints + ids move; the batch side is bounded (the serving
    contract), the stored side is scanned once."""
    from pyspark.sql import Window as W

    spark = df.sparkSession
    idx = _open_winnowing(path)
    if idx is None:
        raise ValueError(f"no winnowing index at {path}")
    epochs = idx.parts["postings"].keys()
    if not epochs:  # every document deleted: a valid, empty index
        base_t = idx.parts["postings"].spark_schema()["id"].dataType.simpleString()
        new_t = df.schema[id_col].dataType.simpleString()
        return parallelize(spark, [], f"new_id {new_t}, base_id {base_t}, n_shared bigint")
    k, w, max_df = idx.params["k"], idx.params["w"], idx.params["max_df"]
    batch = winnowing_postings(df, id_col, text_col, k, w).select(
        F.col("_id").alias("new_id"), "fp"
    )
    if use_df_table and (before_epoch is None or int(before_epoch) > max(epochs)):
        banned = idx.read(spark, "df").filter(F.col("df") > max_df).select("fp")
        # driver-known count gate: the df table is (fp, df) with the
        # df > max_df filter pushed to the scan, so this count is one
        # cheap narrow job. Under the gate the banned set broadcasts;
        # above it the anti-join falls back to a shuffle join rather
        # than betting executor memory on a template-heavy corpus.
        if banned.count() <= _BANNED_BCAST_MAX:
            banned = F.broadcast(banned)
        stored = idx.read(spark, "postings").select(
            F.col("id").alias("base_id"), "fp"
        )
        return (
            F.broadcast(batch.join(banned, "fp", "left_anti"))
            .join(stored, "fp")
            .groupBy("new_id", "base_id")
            .agg(F.count_distinct("fp").cast("bigint").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )
    stored = idx.read(spark, "postings")
    if before_epoch is not None:
        stored = stored.filter(F.col("_epoch") < int(before_epoch))
    stored = (
        stored.select("id", "fp")
        .distinct()
        .withColumn("_df", F.count(F.lit(1)).over(W.partitionBy("fp")))
        .filter(F.col("_df") <= max_df)
        .select(F.col("id").alias("base_id"), "fp")
    )
    return (
        batch.join(stored, "fp")
        .groupBy("new_id", "base_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def delete_winnowing_index_ids(spark, path: str, ids: list) -> int:
    """Document takedown from the stored winnowing index — the
    DELETE that completes its CRUD (write → append → match → compact
    → DELETE, matching every other stored index): postings are keyed
    (id, fp), so removal is by document id and delete ≡
    rebuild-without-those-documents EXACTLY (asserted in tests).
    Returns postings removed; a second identical delete removes 0.

    The epoch layout pays off on the write side exactly as the
    IVF-PQ partition layout does: one postings scan finds the epochs
    actually containing the ids (the takedown list is bounded —
    broadcast isin, passed through at the id column's OWN type, so
    string-id indexes take down cleanly), and ONLY those epochs'
    segments are read and replaced by survivor segments; an epoch the
    delete EMPTIED simply has none. A takedown that empties EVERY
    epoch leaves postings and df with no segments — a valid, empty
    index that match/append/compact accept. The per-fp df side table
    is decremented by the removed documents' distinct (id, fp) pairs —
    exact, because a takedown removes every posting of the id."""
    idx = _open_winnowing(path)
    if idx is None:
        raise ValueError(f"no winnowing index at {path}")
    stored = idx.parts["postings"]
    if not stored.segments:
        return 0
    takedown = list(ids)
    affected = {
        r["_epoch"]
        for r in idx.read(spark, "postings")
        .filter(F.col("id").isin(takedown))
        .select("_epoch")
        .distinct()
        .collect()
    }
    if not affected:
        return 0
    # ONE affected-epoch scan serves survivors, the df decrement and
    # both counts (r12, measured: the former shape scanned the
    # affected partitions four times — EXP_CRUD_PHASES)
    flagged = (
        idx.read(spark, "postings", stored.where_key(lambda e: e in affected))
        .withColumn("_rm", F.col("id").isin(takedown))
        .localCheckpoint(eager=True)
    )
    dec = (
        flagged.filter(F.col("_rm"))
        .select("id", "fp")
        .distinct()
        .groupBy("fp")
        .agg((-F.count(F.lit(1))).cast("bigint").alias("_delta"))
    )
    stats = flagged.agg(
        F.sum(F.col("_rm").cast("long")).alias("_n_removed"),
        F.collect_set(F.when(~F.col("_rm"), F.col("_epoch"))).alias("_kept"),
    ).first()
    postings = stored.where_key(lambda e: e not in affected)
    if stats["_kept"]:
        postings = postings.plus(
            SI.write_part(
                flagged.filter(~F.col("_rm")).drop("_rm"),
                path,
                "postings",
                key="_epoch",
            )
        )
    df_part = (
        _merge_winnowing_df(spark, path, idx, None, dec)
        if postings.segments
        else idx.parts["df"].empty()
    )
    SI.commit(path, "winnowing", idx.params, {"postings": postings, "df": df_part})
    release_checkpoint(flagged)  # pitfall 19
    return int(stats["_n_removed"] or 0)


def compact_winnowing_index(spark, path: str) -> int:
    """Fold every epoch of a stored winnowing index into ONE (epoch
    0) — the nightly maintenance op of the epoch-keyed layout
    (compact_line_index's twin): postings are deduped on (id, fp)
    while folding — exactly the dedupe the matcher applies at read —
    so compaction CHANGES NO ANSWER. The folded postings are written in
    ONE pass over the old segments and replace them all in the commit,
    so no old epoch survives it. The df side table is untouched:
    folding preserves the distinct (id, fp) multiset, so per-fp
    document frequency is compaction-invariant by construction.
    Returns the number of epochs folded (0 for a validly-empty
    index)."""
    idx = _open_winnowing(path)
    if idx is None:
        raise ValueError(f"no winnowing index at {path}")
    epochs = idx.parts["postings"].keys()
    if not epochs:
        return 0
    folded = (
        idx.read(spark, "postings")
        .select("id", "fp")
        .distinct()
        .withColumn("_epoch", F.lit(0))
    )
    SI.commit(
        path,
        "winnowing",
        idx.params,
        {
            "postings": SI.write_part(folded, path, "postings", key="_epoch"),
            "df": idx.parts["df"],
        },
    )
    return len(epochs)


def hashed_ngram_features(col: Column | str, n_buckets: int = 32) -> Column:
    """Hashed n-gram feature vector (the fastText trick, Joulin et al.
    2017 "Bag of Tricks": hash unigrams AND bigrams into a fixed
    bucket space so the feature dimension is corpus-independent):
    array<long> of length ``n_buckets`` where x_j counts the
    document's grams hashing to bucket j. Bucket = first 6 md5 hex
    chars mod n_buckets — the engine-portable convention of
    corpus_shuffle_shards, so an oracle reproduces every count.

    All JVM column transforms, zero shuffles. The bucket stream is
    bound as a ``transform(array(...), ...)`` element variable before
    the per-bucket counting lambda touches it — counting j buckets
    over the raw subtree would re-run the whole md5 gram chain per
    bucket (ARCHITECTURE pitfall 16: interpreted HOFs don't CSE their
    children; n_buckets× re-eval, invisible to value checks)."""
    toks = tokens(col)
    grams = F.concat(toks, shingles(col, 2))
    buckets = F.transform(
        grams,
        lambda g: F.conv(
            F.substring(F.md5(F.concat(F.lit("q:"), g)), 1, 6), 16, 10
        ).cast("long")
        % n_buckets,
    )
    return F.transform(
        F.array(buckets),
        lambda bv: F.transform(
            F.sequence(F.lit(0), F.lit(n_buckets - 1)),
            lambda j: F.size(F.filter(bv, lambda b: b == j)).cast("long"),
        ),
    )[0]


def hashed_ngram_classifier(
    df,
    id_col: str,
    text_col: str,
    teacher: list[int],
    iterations: int = 3,
) -> DataFrame:
    """Linear quality classifier over hashed n-gram features — the
    fastText-shaped filter (Joulin et al. 2017) an LLM corpus pipeline
    trains to score keep/drop quality, in EXACT integer arithmetic:
    the text twin of similarity.perceptron_train, swapping fixed
    embeddings for ``hashed_ngram_features`` counts (already ℤ — no
    ppm scaling needed). Labels come from a planted integer teacher
    over the bucket space (y = sign(t·x)), so the task is teacher
    RECOVERY — separable by construction, giving a meaningful mistake
    trajectory and a hash-exact oracle; a production deployment swaps
    the teacher labels for human/LM quality annotations and keeps
    every other line.

    Synchronous batch rounds (w0 = 0): rows with y·(w·x) ≤ 0 are
    mistakes, w += Σ_mistakes y·x once per round. After ``iterations``
    updates one narrow scoring pass emits per-document
    (id, score = w·x, label, keep = score > 0) — the quality-filter
    output shape.

    Scale shape: the feature working set (x array + y) materializes
    once (localCheckpoint — each lazy re-reference would re-run the
    tokenize+hash chain per round, pitfall 12); each round is ONE
    scan with n_buckets+1 map-side-combinable BIGINT sums via
    element_at (no explode — the kmeans lesson); only n_buckets
    scalars cross the driver per round. Overflow: |x|₁ ≈ 2·tokens,
    |w_j| ≤ rounds·Σdocs x_j — under 2^63 past 10⁹ docs.

    Reference parity: the reference's closest surface is the
    Map+Reduce loop (/root/reference/transformations.go:81,258 —
    mapTransformation / reduceTransformation) driven per round; the
    per-round shipping of w is its Broadcast
    (/root/reference/pipeline.go:51-53)."""
    dim = len(teacher)
    x = hashed_ngram_features(text_col, dim)
    t_lit = F.array(*[F.lit(int(t)).cast("bigint") for t in teacher])
    tdot = F.aggregate(
        F.zip_with(x, t_lit, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    base = df.select(
        F.col(id_col).alias("_id"),
        x.alias("_x"),
        F.when(tdot > 0, F.lit(1)).otherwise(F.lit(-1)).cast("bigint").alias("_y"),
    ).localCheckpoint(eager=True)

    w = _train_rounds(base, dim, iterations)
    w_fin = F.array(*[F.lit(int(wi)).cast("bigint") for wi in w])
    score = F.aggregate(
        F.zip_with(F.col("_x"), w_fin, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    # the returned rows are derived from the checkpointed working set
    # (live data, not a dead round) — the caller's collect consumes it.
    # score materializes as a column FIRST so keep derives from the
    # attribute, not a second copy of the aggregate HOF (pitfall 16)
    return base.select(
        F.col("_id").alias(id_col),
        score.alias("score"),
        F.col("_y").alias("label"),
    ).withColumn("keep", F.col("score") > 0)


def _train_rounds(base, dim: int, iterations: int) -> list[int]:
    """The synchronous perceptron driver loop over a materialized
    (_x array, _y) working set: one scan with dim map-side BIGINT
    sums per round, dim scalars across the driver. Shared by
    hashed_ngram_classifier and train_hashed_ngram_weights."""
    w = [0] * dim
    for _ in range(iterations):
        # one parsed SQL string per gradient sum instead of py4j
        # Column construction (the PQ/IVF lesson): measured 0.38 vs
        # 0.73 s per round at sf0.1, gradients asserted identical
        # (EXP_QROUND_AB.json). Integer literals carry the L
        # suffix and the accumulator seed is CAST(0 AS BIGINT), so
        # the arithmetic stays the exact-BIGINT form the oracle pins.
        w_arr = "array(" + ", ".join(f"{int(wi)}L" for wi in w) + ")"
        z = (
            f"aggregate(zip_with(_x, {w_arr}, (a, b) -> a * b), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        mis = f"(_y * ({z})) <= 0"
        row = base.agg(
            *[
                F.expr(
                    f"sum(CASE WHEN {mis} THEN _y * element_at(_x, {j + 1}) "
                    f"ELSE 0 END) AS g{j}"
                )
                for j in range(dim)
            ]
        ).collect()[0]
        w = [wi + int(row[f"g{j}"]) for j, wi in enumerate(w)]
    return w


def train_hashed_ngram_weights(
    df,
    text_col: str,
    teacher: list[int],
    iterations: int = 3,
) -> list[int]:
    """Train the hashed-n-gram quality classifier and return ONLY the
    integer weight vector — the artifact a serving path actually
    ships (the model IS dim scalars; scoring is a stateless
    projection). Same rounds as hashed_ngram_classifier; the working
    set is released before returning (the weights are driver
    scalars, nothing downstream reads the checkpoint)."""
    dim = len(teacher)
    x = hashed_ngram_features(text_col, dim)
    t_lit = F.array(*[F.lit(int(t)).cast("bigint") for t in teacher])
    tdot = F.aggregate(
        F.zip_with(x, t_lit, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    base = df.select(
        x.alias("_x"),
        F.when(tdot > 0, F.lit(1)).otherwise(F.lit(-1)).cast("bigint").alias("_y"),
    ).localCheckpoint(eager=True)
    w = _train_rounds(base, dim, iterations)
    release_checkpoint(base)  # pitfall 19: weights are scalars
    return w


def hashed_ngram_score(col: Column | str, weights: list[int]) -> Column:
    """Score a document with FROZEN integer weights: dot(w, hashed
    n-gram counts). A pure column expression — stateless, so it runs
    unchanged in a batch projection or an incremental streaming
    select (the serving half of the classifier; see
    streaming.run_quality_score_stream)."""
    w_lit = F.array(*[F.lit(int(wi)).cast("bigint") for wi in weights])
    return F.aggregate(
        F.zip_with(hashed_ngram_features(col, len(weights)), w_lit,
                   lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


# feature-geometry constants the stored quality model pins: a model
# trained under a different gram mix or bucket-hash convention would
# score garbage silently, so the params record these and load refuses drift
_QM_FEATURE = "uni+bigram"
_QM_HASH = "md5-q-6"


def write_quality_model(
    df,
    path: str,
    text_col: str,
    teacher: list[int],
    iterations: int = 3,
) -> list[int]:
    """Train the hashed-n-gram quality classifier and PERSIST it as a
    model-registry artifact — the stored-model lifecycle every index
    in this engine already has, applied to the curation classifier: a
    production pipeline trains once per release and serves the frozen
    weights from storage (batch scoring, the streaming twin, budgeted
    curation), exactly like the reference ships a compiled stage to
    every worker (/root/reference/pipeline.go:51-53 Broadcast — the
    model IS dim scalars).

    Layout: part ``weights`` (bucket, weight), with params recording
    the FEATURE GEOMETRY — n_buckets, the gram mix, the bucket-hash
    convention, a teacher fingerprint and the round count — so a
    scorer can refuse a model trained under different geometry (the
    codebook-fingerprint discipline). Training is exact integer
    arithmetic, so RETRAIN ≡ REBUILD bit-for-bit (asserted in tests).
    Returns the weights."""
    import hashlib as _hashlib

    spark = df.sparkSession
    w = train_hashed_ngram_weights(df, text_col, teacher, iterations)
    weights = SI.write_part(
        parallelize(
            spark, [(i, int(wi)) for i, wi in enumerate(w)],
            "bucket int not null, weight bigint",
        ).coalesce(1),
        path,
        "weights",
    )
    teacher_fp = _hashlib.md5(
        ",".join(str(int(t)) for t in teacher).encode()
    ).hexdigest()[:16]
    params = {
        "n_buckets": len(teacher),
        "iterations": int(iterations),
        "feature": _QM_FEATURE,
        "hash": _QM_HASH,
        "teacher_fp": teacher_fp,
    }
    SI.commit(path, "quality_model", params, {"weights": weights})
    return w


def load_quality_model(spark, path: str) -> tuple[list[int], dict]:
    """Load a stored quality model: (weights, params). RAISES on a
    missing model, on feature-geometry drift (a model trained under a
    different gram mix / bucket-hash convention than this library
    scores with), and on a weights table that does not cover exactly
    buckets 0..n_buckets−1."""
    try:
        idx = SI.open_index(path, "quality_model", _QM_PARAMS)
    except FileNotFoundError as e:
        raise ValueError(f"no quality model: {e}") from None
    meta = dict(idx.params)
    if meta["feature"] != _QM_FEATURE or meta["hash"] != _QM_HASH:
        raise ValueError(
            f"quality-model feature-geometry drift: stored "
            f"(feature={meta['feature']}, hash={meta['hash']}), this "
            f"library scores with (feature={_QM_FEATURE}, hash={_QM_HASH}) "
            f"— scoring would be silent garbage"
        )
    n = int(meta["n_buckets"])
    rows = idx.read(spark, "weights").collect()
    by_bucket = {int(r["bucket"]): int(r["weight"]) for r in rows}
    if len(rows) != n or sorted(by_bucket) != list(range(n)):
        raise ValueError(
            f"quality-model weights at {path} are torn: expected buckets "
            f"0..{n - 1}, got {len(rows)} rows"
        )
    return [by_bucket[j] for j in range(n)], meta


def score_with_quality_model(
    df, path: str, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Score documents FROM THE STORED model — the registry serving
    path (load_quality_model's drift/torn guards apply). A stateless
    integer projection: (id, score, keep)."""
    w, _ = load_quality_model(df.sparkSession, path)
    return df.select(
        F.col(id_col), hashed_ngram_score(text_col, w).alias("score")
    ).withColumn("keep", F.col("score") > 0)


def delete_quality_model(spark, path: str) -> bool:
    """Remove a stored quality model wholesale. Returns whether it
    existed. Delete + retrain ≡ rebuild (training is deterministic
    exact-integer arithmetic; asserted in tests)."""
    return SI.drop_index(path)


def exact_topk_threshold_bucketed(
    scored, score_col: str, k: int, bucket_width: int = 1024
) -> DataFrame:
    """EXACT k-th-largest VALUE over a BIGINT score column without
    funneling the distinct-score histogram through one partition —
    the production form of the top-fraction threshold (the
    single-window variant is exact too, but its unpartitioned cumsum
    window sees one row per DISTINCT score: an adversarial
    all-distinct corpus pushes the whole table through one task).
    Three bounded stages: (1) a coarse histogram over score DIV
    bucket_width — map-side combinable, bucket count = score range /
    bucket_width, independent of corpus size; (2) a cumsum over
    BUCKETS locates the threshold bucket and the rank remainder k′
    inside it (truncating DIV is monotone in the score, so bucket
    order is score order — the around-zero bucket is merely wider,
    never wrong); (3) a per-score histogram over THAT ONE BUCKET
    (≤ 2·bucket_width − 1 distinct scores) refines the exact value.
    Ties at the threshold rank resolve identically to the
    single-window form: the returned value IS the k-th largest, so a
    ``score >= t`` keep-rule is a pure function of the score multiset.
    Returns a 1-row DataFrame (_t bigint; NULL when k > corpus size).
    Both windows run over bounded row sets, so nothing
    corpus-proportional crosses one partition. Equivalence with the
    single-window form is pytested on an all-distinct-score corpus."""
    from pyspark.sql import Window as W

    bw = int(bucket_width)
    s = scored.select(F.col(score_col).cast("bigint").alias("_s"))
    buckets = s.groupBy(F.expr(f"_s DIV {bw}").alias("_b")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    cum = buckets.withColumn(
        "_cum",
        F.sum("_c").over(
            W.orderBy(F.desc("_b")).rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        ),
    )
    tb = (
        cum.filter(F.col("_cum") >= int(k))
        .orderBy(F.desc("_b"))
        .limit(1)
        .select(
            "_b", (F.lit(int(k)) - (F.col("_cum") - F.col("_c"))).alias("_kp")
        )
    )
    inb = s.join(F.broadcast(tb), F.expr(f"_s DIV {bw}") == F.col("_b"))
    fine = inb.groupBy("_s", "_kp").agg(F.count(F.lit(1)).alias("_c"))
    fine_cum = fine.withColumn(
        "_cum",
        F.sum("_c").over(
            W.orderBy(F.desc("_s")).rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        ),
    )
    return fine_cum.filter(F.col("_cum") >= F.col("_kp")).agg(
        F.max("_s").alias("_t")
    )


def dup_token_spans(
    df,
    id_col: str,
    text_col: str,
    n: int = 5,
):
    """EXACT duplicated-substring SPANS — the cut-list substring dedup
    needs (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL'22: remove every substring that appears more
    than once in the corpus, rather than dropping whole documents):
    for each document, the maximal token intervals covered by n-token
    grams that occur ≥ 2 times corpus-wide (across documents OR
    repeated within one). Winnowing_matches tells you WHICH pairs
    share text; this tells you WHERE to cut.

    Semantics: a position p in a doc is *duplicated* iff the exact
    n-token sequence starting at p occurs at ≥ 2 positions in the
    corpus. The emitted spans are the maximal intervals of the union
    of windows [p, p+n) over duplicated p — two duplicated positions
    merge iff their gap ≤ n (overlapping or abutting coverage), the
    same interval-merge Lee et al. apply to suffix-array hits. Output:
    (id, start, length) with 0-based token ``start`` and ``length`` ≥
    n; every emitted token range is verbatim-repeated in the corpus in
    ≥ 1 other place, up to gram-hash collision (16 hex chars = 64
    bits; ~1e-9 false-dup odds per 10^5-gram corpus — and the oracle
    mirrors the same hash, so collisions are cross-engine identical).

    Spark-first plan (suffix arrays don't distribute; gram postings
    do): posexplode tokens once → n-gram per position via ``lead``
    over the doc window (each token read once — the pitfall-16-safe
    shape winnowing_postings established; NO slice-inside-transform)
    → md5-prefix gram keys → ONE gram-keyed exchange where a count
    window marks duplicated positions → doc-keyed gaps-and-islands
    (lag + running sum) for the merge. Narrow (id, pos, 16-hex) rows
    on every shuffle; document bodies never move.

    100 TB shape: output is LINEAR in corpus size (each position
    emits ≤ 1 dup-marked row and spans only merge them) — unlike the
    pair-join matchers there is no df² fanout, so hot template grams
    need no max_df cap: a gram shared by a million docs still costs
    one count-window partition and marks each position once. The
    count window's per-gram partition is bounded by gram frequency;
    an adversarial single-gram corpus degrades to one fat partition,
    the same bound as any groupBy on the key (AQE skew-split applies).
    """
    from pyspark.sql import Window as W

    tok = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens(text_col)).alias("_pos", "_t"),
    )
    wdoc = W.partitionBy("_id").orderBy("_pos")
    gram = F.concat_ws(
        " ", F.col("_t"), *[F.lead("_t", j).over(wdoc) for j in range(1, n)]
    )
    # keep only FULL n-gram positions: the (n−1)-th lead exists ⟺
    # pos ≤ n_tokens − n (tokens are non-empty strings, never NULL)
    g = (
        tok.select(
            "_id",
            "_pos",
            gram.alias("_g"),
            F.lead("_t", n - 1).over(wdoc).isNotNull().alias("_full"),
        )
        .filter("_full")
        .select(
            "_id",
            "_pos",
            F.substring(F.md5(F.concat(F.lit("s:"), F.col("_g"))), 1, 16).alias("_h"),
        )
    )
    dup = (
        g.withColumn("_cnt", F.count(F.lit(1)).over(W.partitionBy("_h")))
        .filter(F.col("_cnt") >= 2)
        .select("_id", "_pos")
    )
    # gaps-and-islands over the duplicated positions: windows [p, p+n)
    # merge while the gap to the previous duplicated position is ≤ n
    brk = F.when(
        F.col("_pos") - F.lag("_pos").over(wdoc) <= n, F.lit(0)
    ).otherwise(F.lit(1))  # first row: lag NULL → otherwise → new span
    isl = dup.withColumn("_brk", brk).withColumn(
        "_grp",
        F.sum("_brk").over(wdoc.rowsBetween(W.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("_id", "_grp")
        .agg(
            F.min("_pos").alias("start"),
            (F.max("_pos") - F.min("_pos") + n).cast("int").alias("length"),
        )
        .select(F.col("_id").alias(id_col), "start", "length")
    )


def dup_span_removal(
    df,
    id_col: str,
    text_col: str,
    n: int = 5,
):
    """APPLY the substring-dedup cut list (the second half of Lee et
    al. ACL'22: having found every duplicated span, REMOVE it and keep
    the unique remainder — the corpus that actually ships to training):
    for each document, drop every token covered by some n-token gram
    that occurs ≥ 2 times corpus-wide, and re-join the surviving tokens
    in order. Output: (id, n_tokens, n_removed, clean_text) — the
    removal accounting plus the cleaned body. dup_token_spans emits the
    cut list for audit; this emits the cut corpus.

    Coverage semantics match dup_token_spans exactly: token position q
    is removed iff some duplicated gram start p satisfies
    p ≤ q < p + n — i.e. q's row-window of the previous n−1 positions
    contains a duplicated start. Because posexplode emits every
    position 0..len−1 contiguously, that value-range test IS a
    rows-window test: max(is_dup) over rowsBetween(−(n−1), 0).

    Spark-first plan: one posexplode of the tokens → the
    pitfall-16-safe lead-window grams (each token read once) → ONE
    gram-keyed count exchange marks duplicated starts → flags rejoin
    the token stream on (id, pos) → a doc-keyed coverage window and a
    conditional collect_list rebuild the text (collect_list skips the
    NULLs the removed positions map to; array_sort restores token
    order by position). Docs with zero tokens cannot appear (posexplode
    of an empty array emits nothing); the oracle applies the same
    len ≥ 1 guard.

    100 TB shape: like dup_token_spans the work is LINEAR — no pair
    join, no df² fanout, hot template grams cost one bounded count
    partition. The rebuilt text rides exactly one doc-keyed exchange
    (the final groupBy); every earlier shuffle carries only
    (id, pos, 16-hex) rows.
    """
    from pyspark.sql import Window as W

    tok = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(tokens(text_col)).alias("_pos", "_t"),
    )
    wdoc = W.partitionBy("_id").orderBy("_pos")
    gram = F.concat_ws(
        " ", F.col("_t"), *[F.lead("_t", j).over(wdoc) for j in range(1, n)]
    )
    g = (
        tok.select(
            "_id",
            "_pos",
            gram.alias("_g"),
            F.lead("_t", n - 1).over(wdoc).isNotNull().alias("_full"),
        )
        .filter("_full")
        .select(
            "_id",
            "_pos",
            F.substring(F.md5(F.concat(F.lit("s:"), F.col("_g"))), 1, 16).alias("_h"),
        )
    )
    dup = (
        g.withColumn("_cnt", F.count(F.lit(1)).over(W.partitionBy("_h")))
        .filter(F.col("_cnt") >= 2)
        .select("_id", "_pos", F.lit(1).alias("_isdup"))
    )
    return _removal_rebuild(tok, dup, id_col, n)


def _removal_rebuild(tok, marks, id_col: str, n: int):
    """Shared apply-step of span removal: join the (_id, _pos, _isdup)
    mark stream onto the (_id, _pos, _t) token stream, expand each
    marked gram START to its n-token coverage via the rows-window test
    (position q is cut iff a marked start p satisfies p ≤ q < p + n —
    a max over the previous n−1 contiguous positions), and rebuild the
    cleaned text per document with a conditional collect_list
    (collect_list drops the NULLs removed positions map to; array_sort
    on the (pos, token) structs restores order). One doc-keyed
    exchange carries the rebuilt text; everything upstream ships only
    (id, pos) integers."""
    from pyspark.sql import Window as W

    wdoc = W.partitionBy("_id").orderBy("_pos")
    flagged = tok.join(marks, ["_id", "_pos"], "left").withColumn(
        "_cov",
        F.max(F.coalesce(F.col("_isdup"), F.lit(0))).over(
            wdoc.rowsBetween(-(n - 1), 0)
        ),
    )
    return (
        flagged.groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("_cov").cast("bigint").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_cov") == 0,
                                F.struct(F.col("_pos"), F.col("_t")),
                            )
                        )
                    ),
                    lambda x: x["_t"],
                ),
                " ",
            ).alias("clean_text"),
        )
        .select(
            F.col("_id").alias(id_col), "n_tokens", "n_removed", "clean_text"
        )
    )


def decontaminate_span_removal(
    df,
    id_col: str,
    text_col: str,
    eval_col: str,
    n: int = 4,
):
    """Benchmark decontamination APPLIED (the GPT-3 §B / Lee et al.
    apply-step): cut from every TRAINING document each token covered by
    an n-gram that occurs ANYWHERE in the eval set, and re-join the
    remainder — the surgical alternative to dropping whole contaminated
    documents (decontaminate_ngram_overlap is the audit view; this
    emits the decontaminated corpus). ``eval_col`` is a boolean column
    marking eval membership; output covers TRAINING docs only:
    (id, n_tokens, n_removed, clean_text).

    A gram is contaminated iff ANY eval document contains it — the
    single-pass window-max-over-gram-key formulation
    decontaminate_ngram_overlap measured ~2× faster than the two-scan
    materialize-and-join (the eval side never materializes; one gram
    exchange marks train positions directly). Coverage + rebuild are
    the shared `_removal_rebuild` apply-step, so dup-removal and
    decontamination can never drift in window semantics.

    100 TB shape: LINEAR — one gram-keyed exchange of (id, pos,
    16-hex, is_eval) rows, one doc-keyed rebuild exchange; eval
    benchmarks are bounded in practice so hot eval grams cost bounded
    window partitions; text never rides the gram shuffle.
    """
    from pyspark.sql import Window as W

    tok = df.select(
        F.col(id_col).alias("_id"),
        F.col(eval_col).cast("int").alias("_ev"),
        F.posexplode(tokens(text_col)).alias("_pos", "_t"),
    )
    wdoc = W.partitionBy("_id").orderBy("_pos")
    gram = F.concat_ws(
        " ", F.col("_t"), *[F.lead("_t", j).over(wdoc) for j in range(1, n)]
    )
    g = (
        tok.select(
            "_id",
            "_pos",
            "_ev",
            gram.alias("_g"),
            F.lead("_t", n - 1).over(wdoc).isNotNull().alias("_full"),
        )
        .filter("_full")
        .select(
            "_id",
            "_pos",
            "_ev",
            F.substring(F.md5(F.concat(F.lit("d:"), F.col("_g"))), 1, 16).alias("_h"),
        )
    )
    marks = (
        g.withColumn("_hit", F.max("_ev").over(W.partitionBy("_h")))
        .filter((F.col("_hit") == 1) & (F.col("_ev") == 0))
        .select("_id", "_pos", F.lit(1).alias("_isdup"))
    )
    train_tok = tok.filter(F.col("_ev") == 0).select("_id", "_pos", "_t")
    return _removal_rebuild(train_tok, marks, id_col, n)


def line_dedup_rebuild(
    df,
    id_col: str,
    text_col: str,
    width: int = 10,
    min_df: int = 2,
):
    """Corpus-frequency LINE deduplication with document rebuild — the
    CCNet / RefinedWeb curation step (Wenzek et al. LREC'20 §3.1;
    Penedo et al. 2023 §4.2: drop every line whose hash occurs more
    than once corpus-wide — boilerplate headers, navigation chrome,
    license blocks — and keep the rest of the document). The synthetic
    corpus has no newlines, so the "line" segmenter is fixed
    non-overlapping ``width``-token windows; the algorithm is
    segmenter-agnostic (swap in split-on-newline for real crawl text).

    Semantics: a segment is dropped from EVERY document it appears in
    when its corpus frequency ≥ ``min_df`` (CCNet drops all copies,
    not all-but-one — boilerplate is noise in its first document too).
    Output per document: (n_segs, n_dropped, text_out) where text_out
    is the surviving segments rejoined in original order ('' when
    everything was boilerplate — the caller's length filter then
    drops the husk, which is exactly the CCNet pipeline order).

    Spark-first plan, two exchanges total:
    1. Tokenize once per doc (the pitfall-12/16-safe
       transform(array(toks), ...) binding), emit (doc_id, seg_idx,
       seg) via one posexplode — the segment builder runs inside the
       generator struct so nothing re-evaluates per row.
    2. ONE segment-keyed exchange: count() over a partitionBy(seg)
       window marks each instance with its corpus frequency — no
       groupBy+join double shuffle, and no collect: the frequency
       table is corpus-sized and never touches the driver.
    3. ONE doc-keyed exchange rebuilds: conditional aggregates count
       drops, collect_list(when(keep, struct(seg_idx, seg))) skips
       dropped segments (collect_list ignores NULLs), array_sort on
       the struct restores original order.

    100 TB shape: rows on the wire are (doc_id, seg_idx, one
    ~width-token segment) — documents travel segment-sharded, never
    whole, so skew is bounded by segment frequency, not document
    size. A production variant keys the window on xxhash64(seg) to
    shrink the shuffle sort key; the md5-free seg key here keeps the
    operator collision-exact to match a SQL oracle. Reference parity:
    the FlatMap→GroupByKey pipeline shape
    (/root/reference/transformations.go:68-70 FlatMap,
    /root/reference/pipeline.go:153-177 GroupByKey) — segment fan-out
    is the FlatMap, the frequency window is the GroupByKey."""
    from pyspark.sql import Window as W

    segs = _line_segments(df, id_col, text_col, width)
    freq = segs.withColumn("_df", F.count(F.lit(1)).over(W.partitionBy("seg")))
    return _line_rebuild(freq, id_col, F.col("_df") < min_df)


def _line_segments(df, id_col: str, text_col: str, width: int):
    """(_id, seg_idx, seg): one row per fixed ``width``-token segment,
    in document order. The segment builder runs inside
    transform(array(toks), ...) so tokenization evaluates once per doc
    (pitfall-12/16 shape); zero-token docs emit nothing."""
    toks = tokens(text_col)

    def _build(tv):
        tn = F.size(tv)
        nseg = F.ceil(tn / F.lit(width)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda s: F.struct(
                s.cast("bigint").alias("seg_idx"),
                F.array_join(F.slice(tv, s * width + 1, width), " ").alias("seg"),
            ),
        )

    return (
        df.filter(F.size(toks) > 0)
        .select(
            F.col(id_col).alias("_id"),
            F.explode(F.transform(F.array(toks), _build)[0]).alias("c"),
        )
        .select("_id", "c.seg_idx", "c.seg")
    )


def _line_rebuild(freq, id_col: str, keep):
    """Reassemble documents from their surviving segments: one doc-keyed
    exchange; collect_list skips the NULLs the ``keep`` mask leaves."""
    return (
        freq.groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.when(keep, 0).otherwise(1)).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(keep, F.struct("seg_idx", "seg")))
                    ),
                    lambda x: x["seg"],
                ),
                " ",
            ).alias("text_out"),
        )
        .select(F.col("_id").alias(id_col), "n_segs", "n_dropped", "text_out")
    )


_LINE_HASH = lambda c: F.substring(  # noqa: E731 — the shared 64-bit segment key
    F.md5(F.concat(F.lit("ld:"), c)), 1, 16
)


def write_line_index(
    df,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 10,
    epoch: int = 0,
) -> None:
    """Write one EPOCH of the stored line-dedup index: the segment-
    frequency table (h = 16-hex md5 of the segment, df = count) for
    this batch of documents, landed as the ``_epoch`` = ``epoch``
    segment of part ``counts`` — so the index is APPEND-ONLY and a
    replayed epoch (checkpoint recovery) replaces its own segment
    instead of double-counting, which a merged counts table cannot do
    without a transaction log. Readers sum df over epochs
    (line_dedup_with_index); a compaction pass that folds old epochs
    into one is the ordinary maintenance op and changes no answer
    (sums are associative). The params record width + the hash
    convention; a later epoch written with a DIFFERENT width would
    silently mis-key every lookup against the earlier epochs, so the
    write raises on width drift (the codebook-fingerprint discipline
    of the ANN indexes)."""
    try:
        idx = SI.open_index(path, "line", _LINE_PARAMS)
    except FileNotFoundError:
        idx = None  # first write
    if idx is not None and idx.params["width"] != int(width):
        raise ValueError(
            f"line-index width drift: stored epochs were segmented at "
            f"width={idx.params['width']}, this write supplied "
            f"width={int(width)} — mixed widths mis-key every lookup"
        )
    segs = _line_segments(df, id_col, text_col, width)
    counts = (
        segs.groupBy(_LINE_HASH(F.col("seg")).alias("h"))
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("_epoch", F.lit(int(epoch)))
    )
    new = SI.write_part(counts, path, "counts", key="_epoch")
    if idx is not None:
        new = idx.parts["counts"].where_key(lambda e: e != int(epoch)).plus(new)
    SI.commit(
        path,
        "line",
        {"width": int(width), "hash": "md5-16", "id_col": id_col},
        {"counts": new},
    )


def line_dedup_with_index(
    df,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    before_epoch: int | None = None,
) -> DataFrame:
    """Clean a document batch against the STORED segment-frequency
    index: a segment is dropped when its stored corpus frequency plus
    its within-batch frequency reaches ``min_df`` — the daily-crawl
    form of text_line_dedup, where yesterday's corpus is the index and
    today's crawl is the batch (prefix-causal: segments are judged
    against PAST + current data only; the accumulated index itself
    converges to the one-shot batch index, asserted in tests).

    ``before_epoch`` restricts the stored counts to earlier epochs —
    the streaming twin passes its own epoch id so a checkpoint REPLAY
    of epoch N cleans against exactly the same index state as the
    first attempt (its own epoch-N counts, already landed before the
    failure, are excluded).

    Scale shape: one batch-segment exchange (the h-keyed frequency
    window), one hash join against the counts table keyed by the same
    16-hex h (8-byte-equivalent keys; stored segment TEXT never
    existed — the index stores only hashes, which is also the privacy
    posture a shared index wants), one doc-keyed rebuild."""
    from pyspark.sql import Window as W

    idx = SI.open_index(path, "line", _LINE_PARAMS)
    width = idx.params["width"]
    stored = idx.read(df.sparkSession, "counts")
    if before_epoch is not None:
        stored = stored.filter(F.col("_epoch") < int(before_epoch))
    stored = stored.groupBy("h").agg(F.sum("df").alias("_sdf"))
    segs = _line_segments(df, id_col, text_col, width).withColumn(
        "h", _LINE_HASH(F.col("seg"))
    )
    freq = (
        segs.withColumn("_bdf", F.count(F.lit(1)).over(W.partitionBy("h")))
        .join(stored, "h", "left")
        .withColumn("_df", F.col("_bdf") + F.coalesce(F.col("_sdf"), F.lit(0)))
    )
    return _line_rebuild(freq, id_col, F.col("_df") < min_df)


def compact_line_index(spark, path: str) -> int:
    """Fold every epoch of a stored line-dedup index into ONE (epoch
    0) — the nightly maintenance op the epoch-keyed layout calls
    for: appends stay cheap and replay-idempotent because epochs are
    append-only, so epoch count grows with crawl cadence and read-side
    df lookups pay one sum-over-epochs aggregation per query; the
    compaction pre-folds that sum. Counts are associative, so
    compaction CHANGES NO ANSWER (clean-after ≡ clean-before, the
    hash-gated claim of text_line_dedup_compacted). The folded counts
    are written in ONE pass over the old segments and replace them
    all in the commit, so no old epoch survives to double-count.
    Returns the number of epochs folded."""
    idx = SI.open_index(path, "line", _LINE_PARAMS)
    folded = (
        idx.read(spark, "counts")
        .groupBy("h")
        .agg(F.sum("df").alias("df"))
        .withColumn("_epoch", F.lit(0))
    )
    SI.commit(
        path,
        "line",
        idx.params,
        {"counts": SI.write_part(folded, path, "counts", key="_epoch")},
    )
    return len(idx.parts["counts"].keys())


def heavy_hitters_exact(
    df,
    text_col: str,
    k: int = 256,
) -> DataFrame:
    """EXACT corpus heavy hitters via the two-pass Misra–Gries plan
    (Misra & Gries 1982; the distributed form is the standard
    sketch-then-verify): pass 1 runs an independent k-counter MG
    summary INSIDE each partition (Arrow-batched mapInPandas — the
    sketch is pure per-partition state, the shape declarative ops
    can't express) and emits only its surviving candidate tokens;
    pass 2 exactly recounts candidates alone and keeps tokens with
    true count > N DIV k. Output: (token, cnt), count-desc.

    Why this is exact: MG undercounts by at most n_p/k, so any token
    with partition count > n_p/k ends pass 1 with a live counter; a
    token with GLOBAL count > N/k must exceed n_p/k in ≥ 1 partition
    (pigeonhole over Σn_p = N), so every qualifying token reaches
    pass 2 — and pass 2's exact threshold removes any false
    candidate. The output is therefore a pure function of the data
    (deterministic, partitioning-independent, SQL-oracle-equal) even
    though the sketch pass is not.

    100 TB shape: the full token stream is NEVER shuffled on token —
    the classic heavy-hitters groupBy moves one row per (partition,
    distinct-token), unbounded vocabulary and all; here pass 1 is
    narrow (zero shuffle, O(k) memory per task) and only ≤ k·P
    candidate tokens plus the candidate-filtered recount ride any
    exchange. The candidate set is bounded by construction (k ×
    partitions), so it broadcasts."""
    import pandas as pd

    toks = df.select(F.explode(tokens(text_col)).alias("t"))

    def _mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for t in pdf["t"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < k:
                    counters[t] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        yield pd.DataFrame({"t": list(counters)})

    cand = (
        toks.mapInPandas(_mg, "t string")
        .distinct()
    )
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    return (
        toks.join(F.broadcast(cand), "t", "left_semi")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") > F.expr(f"n DIV {k}"))
        .select(F.col("t").alias("token"), F.col("cnt").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
    )
