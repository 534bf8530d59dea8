"""Corpus-statistics catalog entries: repetition quality signals,
vocabulary/Zipf coverage, inverted-index postings, and source-mixture
reweighting over the documents table.

These are the corpus-level passes a training-data pipeline runs after
per-document filtering (text_ops) and dedup (dedup_ops): measure
repetition (Gopher-style rep signals), profile the vocabulary, build
retrieval postings, and rebalance the source mixture to a target
distribution.

Cross-engine float discipline (ARCHITECTURE.md pitfall 5): every ratio
is emitted in exact integer parts-per-million (``x * 1000000 DIV y``) —
integer division is bit-identical across Spark/DuckDB, while
``round(x/y, 6)`` can disagree on exact binary decimals like 1/128.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..operators import text as TX
from .. import stored_index as SI
from ..tables import load
from . import query
from .oracle_util import grams_expr

# DuckDB order-preserving token list (mirrors operators.text.tokens)
_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"

# DuckDB k-gram builder over a token list named ``toks`` (mirrors
# operators.text.shingles: clamped, min one gram). Bracket-slice-free —
# explicit element concatenation is stable across DuckDB versions
# (r2 gate hash mismatch traced to slice-semantics drift).
def _grams_sql(k: int) -> str:
    return grams_expr("toks", k)


@query(
    "text_repetition_signals",
    oracle=f"""
    WITH raw AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    stats AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct,
             len({_grams_sql(3)}) AS n_g3,
             len(list_distinct({_grams_sql(3)})) AS n_g3_distinct
      FROM raw),
    grams AS (
      SELECT doc_id, unnest({_grams_sql(2)}) AS g FROM raw),
    counts AS (SELECT doc_id, g, count(*) AS cnt FROM grams GROUP BY doc_id, g),
    top AS (SELECT doc_id, max(cnt) AS top_bigram_cnt, sum(cnt) AS n_bigrams
            FROM counts GROUP BY doc_id)
    SELECT s.doc_id,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           CAST(CAST(s.n_tokens - s.n_distinct AS BIGINT) * 1000000
             // greatest(s.n_tokens, 1) AS BIGINT) AS dup_token_ppm,
           CAST(CAST(t.top_bigram_cnt AS BIGINT) * 1000000
             // greatest(t.n_bigrams, 1) AS BIGINT) AS top_bigram_ppm,
           CAST(CAST(s.n_g3 - s.n_g3_distinct AS BIGINT) * 1000000
             // greatest(s.n_g3, 1) AS BIGINT) AS dup_trigram_ppm
    FROM stats s JOIN top t USING (doc_id)
    ORDER BY s.doc_id
    """,
)
def text_repetition_signals(spark, sf_dir):
    """Gopher-style repetition signals per document: duplicate-token
    fraction, most-frequent-bigram fraction, duplicate-trigram fraction
    (all in exact ppm). High repetition → boilerplate/spam → filtered
    before training.

    Scale shape: two independent passes joined on doc_id. Pass 1 is a
    pure projection computing every array-level stat (token/trigram
    distinct counts) exactly once per document. Pass 2 explodes bigrams
    into the (doc_id, gram) counting aggregation. They must NOT be one
    pass: scalar columns carried alongside an explode() are collapsed
    into the post-generate projection and re-evaluated per exploded row
    — with higher-order-function shingle expressions that multiplied
    runtime ~40× (measured 152 s → 4 s at sf0.1; ARCHITECTURE.md
    pitfall 12). The join shuffles five ints per doc; gram shuffles
    carry (doc_id, gram) pairs only, never document bodies."""
    d = load(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    g2 = TX.shingles("text", 2)
    g3 = TX.shingles("text", 3)
    stats = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.size(g3).alias("n_g3"),
        F.size(F.array_distinct(g3)).alias("n_g3_distinct"),
    )
    per_gram = (
        d.select("doc_id", F.explode(g2).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = per_gram.groupBy("doc_id").agg(
        F.max("cnt").alias("top_bigram_cnt"),
        F.sum("cnt").alias("n_bigrams"),
    )
    per_doc = stats.join(top, "doc_id")
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.expr(
            "CAST(n_tokens - n_distinct AS BIGINT) * 1000000 DIV greatest(n_tokens, 1)"
        ).alias("dup_token_ppm"),
        F.expr(
            "CAST(top_bigram_cnt AS BIGINT) * 1000000 DIV greatest(n_bigrams, 1)"
        ).alias("top_bigram_ppm"),
        F.expr(
            "CAST(n_g3 - n_g3_distinct AS BIGINT) * 1000000 DIV greatest(n_g3, 1)"
        ).alias("dup_trigram_ppm"),
    ).orderBy("doc_id")


@query(
    "corpus_vocab_coverage",
    oracle=f"""
    WITH tf AS (
      SELECT tok, count(*) AS cnt FROM (
        SELECT unnest({_TOKS}) AS tok FROM documents) x
      GROUP BY tok),
    r AS (
      SELECT tok, cnt,
             row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rnk,
             sum(cnt) OVER (ORDER BY cnt DESC, tok ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             sum(cnt) OVER () AS total
      FROM tf)
    SELECT tok, cnt, rnk,
           CAST(cum AS BIGINT) * 1000000 // greatest(CAST(total AS BIGINT), 1) AS cum_ppm
    FROM r WHERE rnk <= 30 ORDER BY rnk
    """,
)
def corpus_vocab_coverage(spark, sf_dir):
    """Zipf / vocabulary-coverage profile: top-30 terms by corpus
    frequency with the cumulative fraction of all token occurrences they
    cover (exact ppm) — the curve tokenizer designers read to size a
    vocabulary.

    Scale shape: the term-frequency aggregation is the scalable part
    (map-side partial agg, shuffle keyed by term). The rank/cumsum
    window is unpartitioned BY DESIGN: it runs over the *vocabulary*
    (bounded, ≤10^7 rows — heavy-hitter-pruned first at the extreme),
    never over the corpus. The doc-scale work never passes through a
    single task."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_rank = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        tf.select(
            "tok",
            "cnt",
            F.row_number().over(w_rank).alias("rnk"),
            F.sum("cnt").over(w_cum).alias("cum"),
            F.sum("cnt").over(w_all).alias("total"),
        )
        .filter(F.col("rnk") <= 30)
        .select(
            "tok",
            "cnt",
            "rnk",
            F.expr("cum * 1000000 DIV greatest(total, 1)").alias("cum_ppm"),
        )
        .orderBy("rnk")
    )


@query(
    "inverted_index_postings",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents) x
      GROUP BY doc_id, tok)
    SELECT tok,
           count(*) AS df,
           CAST(sum(tf) AS BIGINT) AS tf_total,
           array_to_string(
             list_transform(list_sort(list(doc_id))[1:8],
                            v -> CAST(v AS VARCHAR)), ',') AS postings_head
    FROM tf GROUP BY tok ORDER BY tok
    """,
)
def inverted_index_postings(spark, sf_dir):
    """Inverted-index build: per term, document frequency, total term
    frequency, and the head of the sorted posting list (first 8 doc ids,
    comma-joined so the result is hash-stable). The retrieval-side twin
    of text_tfidf_top_terms.

    Scale shape: two keyed aggregations — (doc, term) term counts, then
    term-keyed posting assembly. Posting lists are bounded here by the
    head slice; a full 100 TB index shards postings by (term,
    doc_id_range) so no single term's list exceeds a task (the classic
    hot-term skew — 'the' — is exactly what AQE skew-split plus the
    range sharding absorbs)."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    postings = F.transform(
        F.slice(F.array_sort(F.collect_list("doc_id")), 1, 8),
        lambda v: v.cast("string"),
    )
    return (
        tf.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("tf_total"),
            F.array_join(postings, ",").alias("postings_head"),
        )
        .orderBy("tok")
    )


@query(
    "source_mixture_weights",
    oracle=f"""
    WITH per_src AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    x AS (
      SELECT source, n_docs, n_tokens,
             CAST(sum(n_tokens) OVER () AS BIGINT) AS total,
             count(*) OVER () AS n_sources
      FROM per_src)
    SELECT source, n_docs, n_tokens,
           n_tokens * 1000000 // greatest(total, 1) AS share_ppm,
           total * 1000000 // greatest(n_sources * n_tokens, 1) AS weight_ppm
    FROM x ORDER BY source
    """,
)
def source_mixture_weights(spark, sf_dir):
    """Data-mixture weighting: per-source token counts, corpus share,
    and the up/down-sampling weight that would equalize the mixture
    (uniform target across sources; a target-share table plugs into the
    same shape). weight_ppm > 1e6 → upsample, < 1e6 → downsample. All
    ratios in exact integer ppm.

    Scale shape: one corpus scan into a source-keyed aggregation; the
    totals window runs over the per-source table (bounded by the number
    of sources — thousands at most), not the corpus."""
    d = load(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(TX.token_count("text")).alias("n_tokens"),
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per_src.select(
            "source",
            "n_docs",
            "n_tokens",
            F.sum("n_tokens").over(w_all).alias("total"),
            F.count(F.lit(1)).over(w_all).alias("n_sources"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens * 1000000 DIV greatest(total, 1)").alias("share_ppm"),
            F.expr(
                "total * 1000000 DIV greatest(n_sources * n_tokens, 1)"
            ).alias("weight_ppm"),
        )
        .orderBy("source")
    )


@query(
    "mixture_weighted_sample",
    oracle=f"""
    WITH per_src AS (
      SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    t AS (
      SELECT source, n_tokens,
             CAST(sum(n_tokens) OVER () AS BIGINT) AS total,
             count(*) OVER () AS n_sources
      FROM per_src),
    w AS (
      SELECT source,
             least((total * 65536) // greatest(n_sources * n_tokens, 1), 65536) AS cut
      FROM t),
    wh AS (
      SELECT source,
             CASE WHEN cut >= 65536 THEN 'zzzz'
                  ELSE lpad(lower(hex(cut)), 4, '0') END AS cut_hex
      FROM w)
    SELECT d.source, count(*) AS n_total,
           CAST(sum(CASE WHEN substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 4)
                         < wh.cut_hex
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d JOIN wh ON d.source = wh.source
    GROUP BY d.source ORDER BY d.source
    """,
)
def mixture_weighted_sample(spark, sf_dir):
    """Apply the mixture weights: deterministic content-hash sampling
    that downsamples over-represented sources toward the uniform target
    (keep-probability = min(weight, 1)). The keep decision compares the
    first 16 bits of md5('mix:'||doc_id) against a per-source cut —
    computed in exact integer space (``total*65536 DIV (n_src*tokens)``)
    so the threshold is bit-identical across engines and reruns;
    cut ≥ 2^16 (under-represented source) keeps everything ('zzzz'
    compares above any hex digit).

    Scale shape: the weights table is one bounded row per source; the
    join back onto the corpus is left to AQE (it broadcasts a
    thousands-row side automatically — no manual hint on a data-derived
    table, per the broadcast discipline). The keep flag itself is a pure
    projection: at 100 TB this runs as scan → broadcast-join → filter
    with zero corpus shuffles."""
    d = load(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.sum(TX.token_count("text")).alias("n_tokens")
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cut = F.expr(
        "least((total * 65536) DIV greatest(n_sources * n_tokens, 1), CAST(65536 AS BIGINT))"
    )
    weights = (
        per_src.select(
            "source",
            F.sum("n_tokens").over(w_all).alias("total"),
            F.count(F.lit(1)).over(w_all).alias("n_sources"),
            "n_tokens",
        )
        .select("source", cut.alias("cut"))
        .select(
            "source",
            F.when(F.col("cut") >= 65536, F.lit("zzzz"))
            .otherwise(F.lpad(F.lower(F.hex("cut")), 4, "0"))
            .alias("cut_hex"),
        )
    )
    kept = (
        F.substring(
            F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 4
        )
        < F.col("cut_hex")
    )
    return (
        d.join(weights, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy("source")
    )


@query(
    "corpus_shuffle_shards",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             md5('shuf:' || CAST(doc_id AS VARCHAR)) AS sortkey,
             CAST(('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 4))
                    AS INTEGER) % 16 AS shard
      FROM documents)
    SELECT shard, count(*) AS n_docs,
           min(sortkey) AS first_key, max(sortkey) AS last_key
    FROM keyed GROUP BY shard ORDER BY shard
    """,
)
def corpus_shuffle_shards(spark, sf_dir):
    """Deterministic training-order shuffle: every document gets a
    content-hash sort key and a hash-derived shard (16 here); the
    training loader reads shards in order, each shard sorted by key —
    a reproducible global permutation of a 100 TB corpus with NO global
    sort (the classic pre-training data-order requirement). Hash
    sharding (not rangepartitioning) keeps shard bounds independent of
    sampling, so reruns and engines agree exactly.

    This entry audits the layout (per-shard counts + key range); the
    physical write is write_parquet(partition_by=['shard']) + in-file
    sort, tested in test_asof_sources.py::test_corpus_shuffle_layout."""
    d = load(spark, sf_dir, "documents")
    sortkey = F.md5(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    shard = (
        F.conv(F.substring(sortkey, 1, 4), 16, 10).cast("int") % 16
    )
    return (
        d.select("doc_id", sortkey.alias("sortkey"), shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("sortkey").alias("first_key"),
            F.max("sortkey").alias("last_key"),
        )
        .orderBy("shard")
    )


@query(
    "docs_chunk_windows",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
      FROM documents),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM raw WHERE len(toks) > 0),
    chunks AS (
      SELECT doc_id, toks, n,
             unnest(range(0, CASE WHEN n <= 50 THEN 1
                                  ELSE 1 + (n - 11) // 40 END)) AS k
      FROM sized)
    SELECT doc_id,
           k AS chunk_idx,
           k * 40 + 1 AS chunk_start,
           least(50, n - k * 40) AS chunk_len,
           array_to_string(toks[k * 40 + 1 : k * 40 + least(50, n - k * 40)], ' ')
             AS chunk_text
    FROM chunks ORDER BY doc_id, chunk_idx
    """,
)
def docs_chunk_windows(spark, sf_dir):
    """RAG / context-window chunking: split every document into
    50-token chunks with stride 40 (10-token overlap) — the
    retrieval-index and training-window packing primitive. Chunk count
    for n tokens is 1 + ceil((n-50)/40) (always >= 1), so every token
    is covered and consecutive chunks share 10 tokens of context.

    Scale shape: entirely JVM-side higher-order functions — tokenize
    once, build the chunk array with transform(sequence(...)) and
    explode it. Every chunk field (idx/start/len/text) is computed
    INSIDE the generator expression, so the tokenization runs once per
    document, not once per emitted chunk (ARCHITECTURE.md pitfall 12:
    scalars carried beside explode re-evaluate per generated row —
    packing them into the generated struct avoids it). No shuffle at
    all: chunking is a narrow map over the corpus scan; the orderBy is
    presentation-only for the oracle compare."""
    from ..operators import text as TX

    d = load(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    n = F.size(toks)

    # The chunk builder runs INSIDE transform(array(toks), ...): the
    # inner lambda slices the outer lambda's VARIABLE, not the
    # tokenization subtree — referencing `toks` directly in the chunk
    # lambda is the pitfall-16 shape (the whole split-and-filter would
    # re-run per chunk AND per size() probe: measured 5.9 s vs 0.35 s
    # on 2000-token documents, bit-identical output). The 1-element
    # array wrapper evaluates tokenization exactly once per document.
    def _build(tv):
        tn = F.size(tv)
        tnc = F.when(tn <= 50, F.lit(1)).otherwise(
            (F.floor((tn - F.lit(11)) / F.lit(40)) + 1).cast("int")
        )
        clen = lambda k: F.least(F.lit(50), tn - k * 40)  # noqa: E731
        return F.transform(
            F.sequence(F.lit(0), tnc - 1),
            lambda k: F.struct(
                k.cast("bigint").alias("chunk_idx"),
                (k * 40 + 1).cast("bigint").alias("chunk_start"),
                clen(k).cast("bigint").alias("chunk_len"),
                F.array_join(F.slice(tv, k * 40 + 1, clen(k)), " ").alias(
                    "chunk_text"
                ),
            ),
        )

    chunks = F.transform(F.array(toks), _build)[0]
    return (
        d.filter(n > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.*")
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    "docs_lm_familiarity",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
      FROM documents),
    bg AS (
      SELECT doc_id, unnest({grams_expr("toks", 2)}) AS b
      FROM raw WHERE len(toks) >= 2),
    freq AS (
      SELECT b, count(*) AS n FROM bg GROUP BY b),
    tot AS (SELECT count(*) AS total FROM bg)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(f.n * 1000000 // t.total) AS BIGINT)
             // count(*) AS familiarity_ppm
    FROM bg JOIN freq f USING (b), tot t
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def docs_lm_familiarity(spark, sf_dir):
    """Language-model familiarity score (the integer-exact stand-in
    for a KenLM perplexity quality filter): each document scored by
    the mean corpus-frequency (ppm) of its bigrams — text full of
    bigrams the corpus has never seen (gibberish, boilerplate-mangled
    extraction, wrong-language fragments) scores low and gets
    filtered; the per-doc score distribution is the 'easy vs rare'
    curriculum signal.

    Two passes over the bigram stream: corpus bigram counts
    (bounded-key agg) and a join back per doc occurrence — the doc
    text never rides a shuffle, only (doc_id, bigram). Frequencies
    become integer ppm BEFORE the per-doc mean (sum of ppm DIV
    count), so no float log-prob ever enters the compare; a real
    perplexity ranks documents the same way monotonically. 100 TB
    lever: hash the bigram to 8 bytes for the shuffle key exactly as
    in cross_doc_ngram_exposure."""
    from ..operators import text as TX

    d = load(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    bg = (
        d.filter(F.size(toks) >= 2)
        .select(
            "doc_id",
            F.explode(TX.shingles("text", 2)).alias("b"),
        )
    )
    freq = bg.groupBy("b").agg(F.count(F.lit(1)).alias("n"))
    tot = bg.select(F.count(F.lit(1)).alias("total"))
    return (
        bg.join(freq, "b")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr(
                "cast(sum(n * 1000000 DIV total) as bigint) DIV count(1)"
            ).alias("familiarity_ppm"),
        )
        .orderBy("doc_id")
    )


@query(
    "corpus_curation_pipeline",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, source, text,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS tk
      FROM documents),
    kept AS (
      SELECT doc_id, lang, source, text, len(tk) AS n_tok
      FROM toks
      WHERE length(text) >= 100
        AND len(tk) >= 20
        AND round(len(list_filter(tk, t -> t IN
              ('the','a','an','of','and','or','to','in','is','it')))
            / CAST(greatest(len(tk), 1) AS DOUBLE), 4) >= 0.01
        AND round((length(text)
            - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
            / CAST(greatest(length(text), 1) AS DOUBLE), 4) <= 0.30),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
          ORDER BY doc_id) AS rn
        FROM kept) x WHERE rn = 1),
    sampled AS (
      SELECT doc_id, lang, source, n_tok FROM deduped
      WHERE substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 2)
            < (CASE WHEN lang = 'en' THEN '33' ELSE 'cc' END)),
    packed AS (
      SELECT doc_id, lang, source, n_tok,
             coalesce(sum(n_tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM sampled)
    SELECT doc_id, lang, source, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(floor(cb / 256) AS BIGINT) AS chunk_id,
           CAST(cb % 256 AS BIGINT) AS offset_in_chunk
    FROM packed ORDER BY doc_id
    """,
)
def corpus_curation_pipeline(spark, sf_dir):
    """The END-TO-END curation pipeline as ONE composed plan — the
    showcase that the catalog's operators are stages of a single
    dataflow, not isolated demos: C4-style quality filter → exact
    dedup (min-id representative per canonical fingerprint) →
    content-hash stratified downsampling → per-shard sequence packing,
    emitting each surviving document's (chunk, offset) in the training
    context-window grid.

    Scale shape of the composition: the filter and both hash decisions
    are pure projections fused into the scan stage; dedup is the only
    content-keyed shuffle (row_number over the fingerprint — document
    bodies ride it once); the sample filter then SHRINKS the survivor
    set before the packing window's per-shard shuffle. Stage order is
    the point: filter-before-dedup cuts the fingerprint shuffle,
    sample-before-pack cuts the window input — the same ordering a
    100 TB curation run uses to keep every successive shuffle smaller
    than the last."""
    d = load(spark, sf_dir, "documents")
    feats = TX.quality_features("text")
    keep = (
        (feats["n_chars"] >= 100)
        & (feats["n_tokens"] >= 20)
        & (feats["stopword_ratio"] >= 0.01)
        & (feats["punct_ratio"] <= 0.30)
    )
    kept = d.filter(keep).select(
        "doc_id", "lang", "source", "text", TX.token_count("text").alias("n_tok")
    )
    w_fp = Window.partitionBy(TX.fingerprint("text")).orderBy("doc_id")
    deduped = (
        kept.withColumn("rn", F.row_number().over(w_fp))
        .filter(F.col("rn") == 1)
        .drop("rn", "text")
    )
    h2 = F.substring(
        F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))), 1, 2
    )
    cut = F.when(F.col("lang") == "en", "33").otherwise("cc")
    sampled = deduped.filter(h2 < cut)
    w_pack = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cb = F.coalesce(F.sum("n_tok").over(w_pack), F.lit(0))
    return sampled.select(
        "doc_id",
        "lang",
        "source",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        F.floor(cb / 256).cast("bigint").alias("chunk_id"),
        (cb % 256).cast("bigint").alias("offset_in_chunk"),
    ).orderBy("doc_id")


@query(
    "docs_dsir_weights",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    bg AS (
      SELECT doc_id, lang = 'en' AS is_tgt,
             CAST(('0x' || substr(md5('dsir:' || b), 1, 4)) AS INTEGER)
               % 4096 AS bucket
      FROM (SELECT doc_id, lang, unnest({grams_expr("toks", 2)}) AS b
            FROM raw WHERE len(toks) >= 2)),
    stats AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS all_cnt,
             CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT)
               AS tgt_cnt
      FROM bg GROUP BY bucket)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum((s.tgt_cnt + 1) * 1000000 // (s.all_cnt + 1)) AS BIGINT)
             // count(*) AS dsir_score_ppm
    FROM bg JOIN stats s USING (bucket)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def docs_dsir_weights(spark, sf_dir):
    """DSIR importance-resampling score (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document by how much its hashed-bigram profile looks like a
    TARGET distribution (here the lang='en' slice — in production, the
    curated high-quality corpus) relative to the raw corpus, then
    resample by the weights. This is the standard pretraining
    data-selection pass between dedup and mixture balancing.

    Features are DSIR's hashed n-grams: each bigram hashes into one of
    4096 buckets (16-bit md5 prefix mod 4096 — model size is bounded
    at 4096 counters regardless of corpus size, the whole point of the
    hashing trick). Per bucket the Laplace-smoothed target share
    ``(tgt_cnt+1)·1e6 DIV (all_cnt+1)`` is an exact-integer ppm; a
    document's score is the mean share over its bigram occurrences.
    Rank-equivalence note: the true DSIR weight p(b)/q(b) equals this
    share times the constant ``all_total/tgt_total`` — constant across
    buckets, so ranking and any quantile cut are IDENTICAL with the
    constant dropped, and no float log-prob ever crosses the oracle
    (the docs_lm_familiarity discipline). Overflow bound: the summand
    is ≤ 1e6, so the per-doc sum stays < 2^63 up to 9·10^12 tokens per
    document — unreachable.

    Scale shape (100 TB): bucket stats are a bounded-key agg (4096
    rows — broadcast-joined back by AQE); the corpus ships only
    (doc_id, is_tgt, int bucket) rows, text never rides a shuffle; the
    join back is the same two-pass shape as docs_lm_familiarity except
    the dimension side is FIXED-SIZE, so at any corpus scale this is
    scan → agg(4096) → broadcast join → per-doc agg."""
    d = load(spark, sf_dir, "documents")
    toks = TX.tokens("text")
    bg = (
        d.filter(F.size(toks) >= 2)
        .select(
            "doc_id",
            (F.col("lang") == "en").alias("is_tgt"),
            F.explode(TX.shingles("text", 2)).alias("b"),
        )
        .select(
            "doc_id",
            "is_tgt",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("dsir:"), F.col("b"))), 1, 4
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 4096
            ).alias("bucket"),
        )
    )
    stats = bg.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("all_cnt"),
        F.sum(F.when(F.col("is_tgt"), 1).otherwise(0)).alias("tgt_cnt"),
    )
    return (
        bg.join(stats, "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr(
                "cast(sum((tgt_cnt + 1) * 1000000 DIV (all_cnt + 1)) as bigint)"
                " DIV count(1)"
            ).alias("dsir_score_ppm"),
        )
        .orderBy("doc_id")
    )


@query(
    "bpe_pair_counts",
    oracle=f"""
    WITH toks AS (SELECT unnest({_TOKS}) AS w FROM documents),
    wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY w),
    pairs AS (
      SELECT substr(w, i, 1) || ' ' || substr(w, i + 1, 1) AS pair, n
      FROM wc, unnest(range(1, length(w))) AS t(i)
      WHERE length(w) >= 2
    )
    SELECT pair, CAST(sum(n) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair ASC LIMIT 20
    """,
)
def bpe_pair_counts(spark, sf_dir):
    """The decision table of one BPE tokenizer-training step (Sennrich
    et al. ACL'16): corpus-weighted adjacent character-pair frequencies
    over the word vocabulary — the argmax row IS the next merge; a
    driver loop that applies the merge to the symbol sequences and
    re-runs this count is full BPE training (the kmeans-iter shape).
    Emits the top 20 pairs (count desc, pair asc — deterministic under
    ties) so the whole candidate frontier is value-checked, not just
    the winner.

    Scale shape: pair counting runs over the DISTINCT word vocabulary
    weighted by word counts — the corpus collapses to (word, n) in one
    exchange BEFORE any character work (a 100 TB corpus has a bounded
    vocabulary, so the per-character explode touches vocab-sized data,
    not corpus-sized); the pair agg is bounded by alphabet², and the
    top-20 is TakeOrderedAndProject. The in-word pair extraction
    guards length < 2 explicitly: Spark's sequence(1, 0) would COUNT
    DOWN (auto-negative step) and emit phantom pairs — the same class
    of silent wrong-output the pitfall catalogue tracks.

    Reference: lrmr's flagship Count reducer (test/counter.go:16-32)
    counts whitespace tokens per key; this is the same explode→agg
    dataflow taken one level deeper (chars within words) to train the
    tokenizer itself."""
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(TX.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = F.col("w")
    pair_arr = F.when(
        F.length(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(w) - 1),
            lambda i: F.concat(
                w.substr(i, F.lit(1)), F.lit(" "), w.substr(i + 1, F.lit(1))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        wc.select(F.explode(pair_arr).alias("pair"), "n")
        .groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(20)
    )


def _bpe_top_pair() -> tuple[str, str]:
    """The argmax adjacent character pair (count desc, pair asc — the
    bpe_pair_counts ranking) over the oracle SF dir's word vocabulary,
    computed driver-side the way _centroids()/_query_vec() derive
    their literals: the merge decision enters BOTH the Spark plan and
    the oracle SQL as the same literal, so the two engines apply the
    identical merge."""
    import os
    from collections import Counter

    import pyarrow.parquet as pq

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    t = pq.read_table(os.path.join(sf, "documents.parquet"), columns=["text"])
    wc: Counter = Counter()
    for txt in t["text"].to_pylist():
        for w in (txt or "").split():
            wc[w] += 1
    cnt: Counter = Counter()
    for w, n in wc.items():
        for i in range(len(w) - 1):
            cnt[w[i] + " " + w[i + 1]] += n
    best = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    a, b = best.split(" ")
    return a, b


_BPE_SENT = "\x01"


def _bpe_merge_oracle() -> str:
    a, b = _bpe_top_pair()
    merged = (a + b).replace("'", "''")
    sym = (
        lambda pos: f"(CASE WHEN substr(w2, {pos}, 1) = chr(1) "
        f"THEN '{merged}' ELSE substr(w2, {pos}, 1) END)"
    )
    return f"""
    WITH toks AS (SELECT unnest({_TOKS}) AS w FROM documents),
    wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY w),
    m AS (SELECT replace(w, '{merged}', chr(1)) AS w2, n FROM wc),
    pairs AS (
      SELECT {sym('i')} || ' ' || {sym('i + 1')} AS pair, n
      FROM m, unnest(range(1, length(w2))) AS t(i)
      WHERE length(w2) >= 2
    )
    SELECT pair, CAST(sum(n) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair ASC LIMIT 20
    """


@query("bpe_merge_apply", oracle=_bpe_merge_oracle)
def bpe_merge_apply(spark, sf_dir):
    """The SECOND BPE training iteration: apply the argmax merge from
    bpe_pair_counts (driver-derived literal, the _centroids
    discipline) to every vocabulary word, then re-count adjacent
    SYMBOL pairs — where a symbol is now either a single character or
    the merged pair. Together with bpe_pair_counts this demonstrates
    the full count → merge → re-count training loop; N merges = a
    driver loop re-deriving the argmax each round (the kmeans-iter
    shape; symbol sequences stay strings with sentinel compression,
    so each iteration is one scan + two bounded aggs).

    Merge application is string replace of the merged pair with a
    one-char sentinel — replace() is left-to-right non-overlapping in
    both engines, which IS the BPE merge order on a symbol stream.
    Pair extraction runs inside transform(array(w2), …) so the inner
    lambda indexes a lambda variable, not the replace() subtree
    (pitfall-16 discipline — constant-size here, but the shape is the
    rule). Scale: identical to bpe_pair_counts — corpus collapses to
    (word, n) first; everything after is vocabulary-sized."""
    a, b = _bpe_top_pair()
    merged = a + b
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(TX.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w2 = F.replace(F.col("w"), F.lit(merged), F.lit(_BPE_SENT))

    def _pairs(s):
        # ``s`` is the outer transform's lambda VARIABLE (the merged
        # word), so the substr/length probes index a free reference,
        # not the replace() subtree
        def sym(c):
            return F.when(c == _BPE_SENT, F.lit(merged)).otherwise(c)

        return F.when(
            F.length(s) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.length(s) - 1),
                lambda i: F.concat(
                    sym(s.substr(i, F.lit(1))),
                    F.lit(" "),
                    sym(s.substr(i + 1, F.lit(1))),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    pair_arr = F.transform(F.array(w2), _pairs)[0]
    return (
        wc.select(F.explode(pair_arr).alias("pair"), "n")
        .groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(20)
    )


_BPE_N_MERGES = 4


def _bpe_merge_seq(n_merges: int = _BPE_N_MERGES):
    """The first ``n_merges`` BPE merges, derived driver-side from the
    oracle SF dir (the ``_bpe_top_pair`` discipline extended to the full
    training loop): each round counts adjacent SYMBOL pairs over the
    compressed word vocabulary, picks the argmax (count desc, expanded
    display asc — a stable total order), and compresses the winner to a
    one-char sentinel ``chr(k)``. Returns ``[(compressed_pair,
    sentinel, expansion)]`` in merge order; both engines receive the
    identical merge table as literals, so the value check verifies the
    ENGINES' merge application + re-count, not the driver's argmax.

    Compression keys stay unique across rounds: every key is the image
    of a distinct raw word under the (invertible — expand the
    sentinels) merge function, but counts are summed on insert anyway
    so a collision would only coarsen the grouping identically to what
    both engines do downstream."""
    import os
    from collections import Counter

    import pyarrow.parquet as pq

    sf = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    t = pq.read_table(os.path.join(sf, "documents.parquet"), columns=["text"])
    wc: Counter = Counter()
    for txt in t["text"].to_pylist():
        for w in (txt or "").split():
            wc[w] += 1
    expand: dict[str, str] = {}

    def exp(c: str) -> str:
        return expand.get(c, c)

    merges: list[tuple[str, str, str]] = []
    for k in range(1, n_merges + 1):
        cnt: Counter = Counter()
        for w, n in wc.items():
            for i in range(len(w) - 1):
                cnt[(w[i], w[i + 1])] += n
        (a, b), _ = min(
            cnt.items(),
            key=lambda kv: (-kv[1], exp(kv[0][0]) + " " + exp(kv[0][1])),
        )
        s = chr(k)
        expand[s] = exp(a) + exp(b)
        merges.append((a + b, s, expand[s]))
        wc2: Counter = Counter()
        for w, n in wc.items():
            wc2[w.replace(a + b, s)] += n
        wc = wc2
    return merges


def _sql_chr_str(s: str) -> str:
    """A DuckDB string expression for a literal that may contain the
    control-char sentinels (chr(1)..chr(N) can't ride inside a quoted
    SQL literal)."""
    parts: list[str] = []
    buf = ""
    for ch in s:
        if ord(ch) < 32:
            if buf:
                parts.append("'" + buf.replace("'", "''") + "'")
                buf = ""
            parts.append(f"chr({ord(ch)})")
        else:
            buf += ch
    if buf:
        parts.append("'" + buf.replace("'", "''") + "'")
    return " || ".join(parts) if parts else "''"


def _bpe_train_oracle() -> str:
    merges = _bpe_merge_seq()
    w2 = "w"
    for pair, sent, _ in merges:
        w2 = f"replace({w2}, {_sql_chr_str(pair)}, chr({ord(sent)}))"
    whens = " ".join(
        f"WHEN chr({ord(sent)}) THEN '{expansion}'"
        for _, sent, expansion in merges
    )
    sym = (
        lambda pos: f"(CASE substr(w2, {pos}, 1) {whens} "
        f"ELSE substr(w2, {pos}, 1) END)"
    )
    return f"""
    WITH toks AS (SELECT unnest({_TOKS}) AS w FROM documents),
    wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY w),
    m AS (SELECT {w2} AS w2, n FROM wc),
    pairs AS (
      SELECT {sym('i')} || ' ' || {sym('i + 1')} AS pair, n
      FROM m, unnest(range(1, length(w2))) AS t(i)
      WHERE length(w2) >= 2
    )
    SELECT pair, CAST(sum(n) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair ASC LIMIT 20
    """


@query("bpe_train_merges", oracle=_bpe_train_oracle)
def bpe_train_merges(spark, sf_dir):
    """FULL BPE tokenizer training, N = 4 merge iterations (Sennrich
    et al. ACL'16 algorithm 1): the count → argmax → merge → re-count
    driver loop that bpe_pair_counts (iteration 1) and bpe_merge_apply
    (iteration 2) demonstrate one step of, run to depth 4. The merge
    TABLE is derived driver-side by a plain-python model (the
    _centroids / kmeans-iter discipline: the per-round argmax is a
    driver decision, like the kmeans centroid update) and enters both
    engines as literals; what the value check verifies is the engines'
    merge APPLICATION — four chained left-to-right non-overlapping
    string replaces, which IS the BPE merge order on a symbol stream —
    and the resulting symbol-pair frequency table, emitted as the
    top-20 frontier with every sentinel expanded back to its readable
    symbol text (count desc, pair asc — deterministic under ties).

    Each merged symbol is one sentinel CHAR (chr(1)..chr(4)), so a
    later merge whose side is an earlier merge ("ab" + "c" → "abc")
    is still a plain 2-char replace — the symbol stream never grows.
    Pair extraction runs inside transform(array(w2), …) so the inner
    lambda indexes a lambda variable, not the 4-replace subtree
    (pitfall-16 discipline).

    Scale shape: identical to bpe_pair_counts — the corpus collapses
    to the (word, n) vocabulary in ONE exchange before any character
    work; each training round is then vocabulary-sized (one scan of
    the cached vocab + a bounded pair agg), which is why production
    BPE trainers run on word counts, never the raw corpus. A deeper
    vocab (N in the thousands) keeps the same shape: the per-round
    cost is O(vocab · word_len), driver memory O(alphabet + N)."""
    merges = _bpe_merge_seq()
    d = load(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(TX.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w2 = F.col("w")
    for pair, sent, _ in merges:
        w2 = F.replace(w2, F.lit(pair), F.lit(sent))

    def _pairs(s):
        # ``s`` is the outer transform's lambda VARIABLE (the fully
        # merged word), so the substr/length probes index a free
        # reference, not the chained-replace subtree
        def sym(c):
            e = F.when(c == merges[0][1], F.lit(merges[0][2]))
            for _, sent, expansion in merges[1:]:
                e = e.when(c == sent, F.lit(expansion))
            return e.otherwise(c)

        return F.when(
            F.length(s) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.length(s) - 1),
                lambda i: F.concat(
                    sym(s.substr(i, F.lit(1))),
                    F.lit(" "),
                    sym(s.substr(i + 1, F.lit(1))),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    pair_arr = F.transform(F.array(w2), _pairs)[0]
    return (
        wc.select(F.explode(pair_arr).alias("pair"), "n")
        .groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(20)
    )


@query(
    "mixture_unimax_weights",
    oracle=f"""
    WITH per_src AS (
      SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    x AS (
      SELECT source, n_tokens,
             CAST(2 * n_tokens AS BIGINT) AS capacity,
             CAST((sum(n_tokens) OVER ()) * 19 // 10 AS BIGINT) AS budget,
             CAST(count(*) OVER () AS BIGINT) AS n_src,
             CAST(row_number() OVER (ORDER BY 2 * n_tokens ASC, source ASC)
               AS BIGINT) AS rn,
             CAST(coalesce(sum(2 * n_tokens) OVER (
               ORDER BY 2 * n_tokens ASC, source ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_prev
      FROM per_src),
    y AS (
      SELECT *, CASE WHEN capacity * (n_src - rn + 1) <= budget - cum_prev
                     THEN 1 ELSE 0 END AS capped
      FROM x),
    z AS (
      SELECT *,
             CAST(sum(CASE WHEN capped = 1 THEN capacity ELSE 0 END)
               OVER () AS BIGINT) AS capped_sum,
             CAST(sum(1 - capped) OVER () AS BIGINT) AS n_uncapped
      FROM y),
    a AS (
      SELECT *, CAST(CASE WHEN capped = 1 THEN capacity
                          ELSE (budget - capped_sum) // n_uncapped END
               AS BIGINT) AS alloc_tokens
      FROM z)
    SELECT source, n_tokens, capacity,
           CAST(capped AS BIGINT) AS is_capped, alloc_tokens,
           CAST(alloc_tokens * 1000000 // n_tokens AS BIGINT) AS epochs_ppm
    FROM a ORDER BY source
    """,
)
def mixture_unimax_weights(spark, sf_dir):
    """UniMax mixture weights (Chung et al., ICLR'23): allocate a token
    budget across sources as uniformly as possible subject to a
    per-source epoch cap — small sources are repeated up to E epochs
    but never more, and the budget they can't absorb waterfills
    uniformly over the larger sources. Constants: E = 2 epochs; budget
    = 95% of total capacity (19·Σn DIV 10), chosen so the fill level
    lands strictly inside the capacity spread — both branches (capped
    and waterfilled) appear at every test SF.

    The sequential waterfilling loop becomes one window pass via the
    classic prefix lemma: processing sources by ascending capacity,
    the capped set is a prefix, and source i is capped iff
    c_i · (S − i + 1) ≤ B − Σ_{{j<i}} c_j — the exact-rational form of
    "capacity below the current fair share", as a pure BIGINT
    comparison (no division, no floats; token counts ≪ 2^31 keep the
    product ≪ 2^63). Uncapped sources each get the identical floored
    share (B − capped_sum) DIV n_uncapped. The last-ascending source
    can never satisfy the cap test while B < Σc, so n_uncapped ≥ 1 and
    the division is total. Property-tested against a sequential
    Fraction-arithmetic waterfiller.

    Scale shape: one scan → source-keyed agg; every window runs over
    the bounded per-source table (the single-partition WindowExec is
    over ≤ n_sources rows, the same waiver as source_mixture_weights).
    """
    d = load(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.sum(TX.token_count("text")).cast("bigint").alias("n_tokens")
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_asc = Window.partitionBy().orderBy(
        F.asc("capacity"), F.asc("source")
    )
    w_prev = w_asc.rowsBetween(Window.unboundedPreceding, -1)
    x = (
        per_src.withColumn(
            "capacity", (F.lit(2) * F.col("n_tokens")).cast("bigint")
        )
        .withColumn(
            "budget",
            F.expr("sum(n_tokens) over () * 19 DIV 10").cast("bigint"),
        )
        .withColumn("n_src", F.count(F.lit(1)).over(w_all).cast("bigint"))
        .withColumn("rn", F.row_number().over(w_asc).cast("bigint"))
        .withColumn(
            "cum_prev",
            F.coalesce(F.sum("capacity").over(w_prev), F.lit(0)).cast(
                "bigint"
            ),
        )
    )
    y = x.withColumn(
        "capped",
        F.when(
            F.col("capacity") * (F.col("n_src") - F.col("rn") + 1)
            <= F.col("budget") - F.col("cum_prev"),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    z = y.withColumn(
        "capped_sum",
        F.sum(
            F.when(F.col("capped") == 1, F.col("capacity")).otherwise(0)
        )
        .over(w_all)
        .cast("bigint"),
    ).withColumn(
        "n_uncapped",
        F.sum(F.lit(1) - F.col("capped")).over(w_all).cast("bigint"),
    )
    a = z.withColumn(
        "alloc_tokens",
        F.when(F.col("capped") == 1, F.col("capacity"))
        .otherwise(
            F.expr("(budget - capped_sum) DIV n_uncapped")
        )
        .cast("bigint"),
    )
    return a.select(
        "source",
        "n_tokens",
        "capacity",
        F.col("capped").cast("bigint").alias("is_capped"),
        "alloc_tokens",
        F.expr("alloc_tokens * 1000000 DIV n_tokens")
        .cast("bigint")
        .alias("epochs_ppm"),
    ).orderBy("source")


@query(
    "mixture_temperature_weights",
    oracle=f"""
    WITH per_src AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    x AS (
      SELECT source, n_docs, n_tokens,
             CAST(max(n_tokens) OVER () AS BIGINT) AS n_max
      FROM per_src)
    SELECT source, n_docs, n_tokens,
           CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / n_max) * 1000000)
             AS BIGINT) AS target_rel_ppm,
           CAST(floor(sqrt(CAST(n_max AS DOUBLE) / n_tokens) * 1000000)
             AS BIGINT) AS upsample_ppm
    FROM x ORDER BY source
    """,
)
def mixture_temperature_weights(spark, sf_dir):
    """Temperature-scaled mixture weights at α = 0.5 (the multilingual
    / Pile-style compromise between natural sampling α=1 and the
    uniform target source_mixture_weights computes): the target share
    is ∝ n_tokens^α, so the resampling multiplier vs natural is
    ∝ n^(α−1) — small sources are boosted by sqrt(n_max/n_s), anchored
    so the LARGEST source keeps multiplier 1. Emits both the relative
    target share and the boost, in ppm.

    Cross-engine float discipline for the irrational α: no ratio ever
    crosses an aggregation — sqrt and division are IEEE
    correctly-rounded scalar ops over EXACT integer operands
    (token counts ≪ 2^53), so both engines compute bit-identical
    doubles, and floor(x·1e6) avoids the engines' differing rounding
    tie conventions entirely. A Σ-normalized share (sqrt(n)/Σ sqrt)
    would float-sum over sources in engine-specific order — that
    normalization belongs driver-side, on this bounded table.

    Scale shape: identical to source_mixture_weights — one scan into a
    source-keyed agg; the max window runs over the bounded per-source
    table."""
    d = load(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(TX.token_count("text")).cast("bigint").alias("n_tokens"),
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per_src.withColumn("n_max", F.max("n_tokens").over(w_all))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.floor(
                F.sqrt(F.col("n_tokens").cast("double") / F.col("n_max"))
                * 1000000
            )
            .cast("bigint")
            .alias("target_rel_ppm"),
            F.floor(
                F.sqrt(F.col("n_max").cast("double") / F.col("n_tokens"))
                * 1000000
            )
            .cast("bigint")
            .alias("upsample_ppm"),
        )
        .orderBy("source")
    )


def _bpe_encode_oracle() -> str:
    merges = _bpe_merge_seq()
    w2 = "w"
    for pair, sent, _ in merges:
        w2 = f"replace({w2}, {_sql_chr_str(pair)}, chr({ord(sent)}))"
    return f"""
    WITH d AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(coalesce(list_sum(list_transform(toks,
               w -> length(w))), 0) AS BIGINT) AS n_chars,
             CAST(coalesce(list_sum(list_transform(toks,
               w -> length({w2}))), 0) AS BIGINT) AS n_bpe_symbols
      FROM d)
    SELECT doc_id, n_tokens, n_chars, n_bpe_symbols,
           CAST((n_chars - n_bpe_symbols) * 1000000
             // greatest(n_chars, 1) AS BIGINT) AS saved_ppm
    FROM s ORDER BY doc_id
    """


@query("bpe_encode_corpus", oracle=_bpe_encode_oracle)
def bpe_encode_corpus(spark, sf_dir):
    """The ENCODE half of the tokenizer lifecycle: apply the trained
    4-merge BPE table (bpe_train_merges) to every document and emit
    per-doc sequence lengths — whitespace tokens, raw characters
    (= symbols at zero merges), and BPE symbols after the 4 merges —
    plus the compression in ppm. This is the number that decides
    whether a vocabulary is worth its size (bits-per-symbol /
    sequence-length tradeoff), and together with the train entries
    closes the loop: count → argmax → merge → re-count → ENCODE.

    Encoding a word = the same chained left-to-right replaces the
    trainer used (each merged symbol is one sentinel char), so the
    symbol count is just length() of the compressed string — the
    whole encode is three scalar expressions per word inside one
    transform over the token array (lambda references its own
    variable: pitfall-16-safe). ZERO shuffles beyond the scan: this
    is a map-only pass at any corpus scale; a production N-thousand
    merge vocab would swap the replace chain for a trie-split
    mapInPandas but keep the identical dataflow."""
    merges = _bpe_merge_seq()
    d = load(spark, sf_dir, "documents")
    toks = TX.tokens("text")

    def enc_len(w):
        e = w
        for pair, sent, _ in merges:
            e = F.replace(e, F.lit(pair), F.lit(sent))
        return F.length(e)

    zero = F.lit(0).cast("bigint")
    s = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.coalesce(
            F.aggregate(toks, zero, lambda acc, w: acc + F.length(w)), zero
        ).alias("n_chars"),
        F.coalesce(
            F.aggregate(toks, zero, lambda acc, w: acc + enc_len(w)), zero
        ).alias("n_bpe_symbols"),
    )
    return s.select(
        "doc_id",
        "n_tokens",
        "n_chars",
        "n_bpe_symbols",
        F.expr(
            "(n_chars - n_bpe_symbols) * 1000000 DIV greatest(n_chars, 1)"
        )
        .cast("bigint")
        .alias("saved_ppm"),
    ).orderBy("doc_id")


@query(
    "token_diversity_index",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents) x
      GROUP BY doc_id, tok)
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(1000000 - sum(cnt * cnt) * 1000000
             // greatest(sum(cnt) * sum(cnt), 1) AS BIGINT)
             AS gini_simpson_ppm
    FROM tf GROUP BY doc_id ORDER BY doc_id
    """,
)
def token_diversity_index(spark, sf_dir):
    """Per-document lexical diversity as the Gini–Simpson index
    1 − Σ pᵢ² over the doc's token distribution — the
    entropy-family quality signal that, unlike Shannon entropy, needs
    NO logarithm: Σ cnt² and (Σ cnt)² are exact BIGINTs, so the index
    is pure integer ppm arithmetic. (ln/log2 are deliberately avoided:
    libm transcendentals are not correctly-rounded and differ between
    JVM and DuckDB, so an entropy column could not be hash-checked —
    the same reasoning that kept Σ-normalization driver-side in
    mixture_temperature_weights; sqrt is the one IEEE-exact
    transcendental the catalog permits.) Low diversity ≅ high
    repetition — the filter complements text_repetition_signals'
    duplicate-fraction view with a whole-distribution one (boilerplate
    with MANY repeated tokens scores low here even when no single
    bigram dominates).

    Overflow: cnt ≤ n_tokens and Σcnt² ≤ n², so the ppm numerator is
    ≤ n²·10⁶ — safe up to ~3·10⁶ tokens per document; a pathological
    longer doc would need the decomposition (Σcnt²·10⁶ DIV n) DIV n.
    Scale shape: one explode into a (doc_id, tok) count agg, then a
    doc-keyed agg — both map-side-combinable; nothing wider than
    (doc_id, tok) ever shuffles."""
    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return (
        tf.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.expr(
                "cast(1000000 - sum(cnt * cnt) * 1000000"
                " DIV greatest(sum(cnt) * sum(cnt), 1) as bigint)"
            ).alias("gini_simpson_ppm"),
        )
        .orderBy("doc_id")
    )


@query(
    "mixture_unimax_sample",
    oracle=f"""
    WITH per_src AS (
      SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    x AS (
      SELECT source, n_tokens,
             CAST(2 * n_tokens AS BIGINT) AS capacity,
             CAST((sum(n_tokens) OVER ()) * 19 // 10 AS BIGINT) AS budget,
             CAST(count(*) OVER () AS BIGINT) AS n_src,
             CAST(row_number() OVER (ORDER BY 2 * n_tokens ASC, source ASC)
               AS BIGINT) AS rn,
             CAST(coalesce(sum(2 * n_tokens) OVER (
               ORDER BY 2 * n_tokens ASC, source ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_prev
      FROM per_src),
    y AS (
      SELECT *, CASE WHEN capacity * (n_src - rn + 1) <= budget - cum_prev
                     THEN 1 ELSE 0 END AS capped
      FROM x),
    z AS (
      SELECT *,
             CAST(sum(CASE WHEN capped = 1 THEN capacity ELSE 0 END)
               OVER () AS BIGINT) AS capped_sum,
             CAST(sum(1 - capped) OVER () AS BIGINT) AS n_uncapped
      FROM y),
    w AS (
      SELECT source,
             CAST((CASE WHEN capped = 1 THEN capacity
                        ELSE (budget - capped_sum) // n_uncapped END)
               * 1000000 // n_tokens AS BIGINT) AS epochs_ppm
      FROM z),
    c AS (
      SELECT d.doc_id, d.source,
             CAST(w.epochs_ppm // 1000000
               + CASE WHEN list_reduce(list_transform(range(1, 9),
                   i -> CAST(strpos('0123456789abcdef', substr(
                     md5('unimax:' || CAST(d.doc_id AS VARCHAR)), i, 1))
                     - 1 AS BIGINT)), (a, v) -> a * 16 + v) % 1000000
                   < w.epochs_ppm % 1000000 THEN 1 ELSE 0 END
               AS BIGINT) AS n_copies
      FROM documents d JOIN w USING (source))
    SELECT doc_id, source, CAST(t.i AS BIGINT) AS copy_idx, n_copies
    FROM c, unnest(range(0, n_copies)) AS t(i)
    WHERE n_copies > 0
    ORDER BY doc_id, copy_idx
    """,
)
def mixture_unimax_sample(spark, sf_dir):
    """APPLY the UniMax allocation (mixture_unimax_weights): emit each
    document ⌈or⌋ floor(epochs) + Bernoulli(frac(epochs)) times, with
    the Bernoulli decided by a deterministic content hash — the
    materialized repeated-epochs corpus a training pipeline actually
    writes. Capped sources (epochs exactly 2.0) emit every doc twice;
    waterfilled sources emit floor + a hash-thresholded extra copy, so
    the expected per-source token total equals the integer allocation.
    Deterministic end-to-end: same corpus, same copies, every run —
    the md5-ppm threshold is the mixture_weighted_sample discipline
    (that entry DOWN-samples toward uniform; this one UP-samples to
    the epoch-capped budget — the two directions a mixture rebalancer
    needs).

    Scale shape: the weights table is one row per source, broadcast
    back by AQE; the copy explode is a per-row generator bounded by
    the epoch cap E = 2 (never data-dependent blowup: n_copies ≤
    ⌈E⌉ + 1). The explode guards n_copies > 0 BEFORE sequence():
    Spark's sequence(0, -1) would COUNT DOWN and emit phantom copies
    (the bpe_pair_counts pitfall)."""
    weights = mixture_unimax_weights(spark, sf_dir).select(
        "source", "epochs_ppm"
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    hash_ppm = (
        F.conv(F.substring(F.md5(F.concat(F.lit("unimax:"), F.col("doc_id").cast("string"))), 1, 8), 16, 10).cast("bigint")
        % 1000000
    )
    c = (
        d.join(weights, "source")
        .select(
            "doc_id",
            "source",
            (
                F.expr("epochs_ppm DIV 1000000")
                + F.when(hash_ppm < F.expr("epochs_ppm % 1000000"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_copies"),
        )
        .filter(F.col("n_copies") > 0)
    )
    return (
        c.select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(0), F.col("n_copies") - 1)).alias(
                "_ci"
            ),
            "n_copies",
        )
        .select(
            "doc_id",
            "source",
            F.col("_ci").cast("bigint").alias("copy_idx"),
            "n_copies",
        )
        .orderBy("doc_id", "copy_idx")
    )


@query(
    "source_overlap_matrix",
    oracle=f"""
    WITH sg AS (
      SELECT DISTINCT source, g FROM (
        SELECT source, unnest({_grams_sql(3)}) AS g
        FROM (SELECT source, {_TOKS} AS toks FROM documents) t) x),
    per_src AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams
                FROM sg GROUP BY source),
    shared AS (
      SELECT l.source AS src_a, r.source AS src_b,
             CAST(count(*) AS BIGINT) AS shared_grams
      FROM sg l JOIN sg r ON l.g = r.g AND l.source < r.source
      GROUP BY l.source, r.source)
    SELECT s.src_a, s.src_b, s.shared_grams,
           a.n_grams AS n_grams_a, b.n_grams AS n_grams_b,
           CAST(s.shared_grams * 1000000
             // least(a.n_grams, b.n_grams) AS BIGINT) AS containment_ppm
    FROM shared s
    JOIN per_src a ON s.src_a = a.source
    JOIN per_src b ON s.src_b = b.source
    ORDER BY src_a, src_b
    """,
)
def source_overlap_matrix(spark, sf_dir):
    """Cross-source contamination matrix: for every source pair, how
    many distinct 3-gram shingles they share, with containment in ppm
    (shared / smaller side) — the audit a mixture designer reads
    before weighting sources (two crawls of the same site look like
    independent data to per-source stats but light up here; the
    source-level companion to cross_doc_ngram_exposure's doc-level
    view and decontaminate_ngram_overlap's train-vs-eval view).

    Scale shape: the corpus collapses to DISTINCT (source, gram) in
    one exchange — the explode is doc-local, the distinct is
    gram-keyed with map-side combine. The self-join fans each gram
    out to at most C(n_sources, 2) pairs (n_sources is bounded and
    small: 20 here, hundreds at worst in production), so the join
    output is grams × a small constant, and the final matrix is
    C(n_sources, 2) rows. Document bodies never shuffle — only
    (source, 3-gram) pairs."""
    d = load(spark, sf_dir, "documents")
    sg = (
        d.select("source", F.explode(TX.shingles("text", 3)).alias("g"))
        .distinct()
    )
    per_src = sg.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    left = sg.alias("l")
    right = sg.alias("r")
    shared = (
        left.join(
            right,
            (F.col("l.g") == F.col("r.g"))
            & (F.col("l.source") < F.col("r.source")),
        )
        .groupBy(
            F.col("l.source").alias("src_a"),
            F.col("r.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
    )
    return (
        shared.join(
            per_src.select(
                F.col("source").alias("src_a"),
                F.col("n_grams").alias("n_grams_a"),
            ),
            "src_a",
        )
        .join(
            per_src.select(
                F.col("source").alias("src_b"),
                F.col("n_grams").alias("n_grams_b"),
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "shared_grams",
            "n_grams_a",
            "n_grams_b",
            F.expr(
                "shared_grams * 1000000 DIV least(n_grams_a, n_grams_b)"
            )
            .cast("bigint")
            .alias("containment_ppm"),
        )
        .orderBy("src_a", "src_b")
    )


_BF_BITS = 1_048_576  # 2^20 bits = 32768 words x 32 bits/word
_BF_HASHES = 3


def _bloom_oracle() -> str:
    g4 = grams_expr("toks", 4)

    def pos(j: int, g: str) -> str:
        return (
            f"(CAST(('0x' || substr(md5('bf{j}:' || {g}), 1, 8)) AS BIGINT)"
            f" % {_BF_BITS})"
        )

    joins, sets = [], []
    for j in range(_BF_HASHES):
        p = pos(j, "t.g")
        joins.append(
            f"LEFT JOIN bf b{j} ON b{j}.w = ({p}) // 32"
        )
        sets.append(
            f"coalesce((b{j}.bits & (CAST(1 AS BIGINT) << "
            f"CAST(({p}) % 32 AS INTEGER))) <> 0, FALSE)"
        )
    inserts = " UNION ALL ".join(
        f"SELECT ({pos(j, 'g')}) // 32 AS w, "
        f"CAST(1 AS BIGINT) << CAST(({pos(j, 'g')}) % 32 AS INTEGER) AS m "
        f"FROM ev"
        for j in range(_BF_HASHES)
    )
    allset = " AND ".join(sets)
    return f"""
    WITH raw AS (
      SELECT doc_id, source, {_TOKS} AS toks FROM documents),
    grams AS (
      SELECT doc_id, source, CAST(doc_id % 50 = 0 AS INTEGER) AS is_ev,
             unnest(list_distinct({g4})) AS g
      FROM raw),
    ev AS (SELECT DISTINCT g FROM grams WHERE is_ev = 1),
    bf AS (SELECT w, bit_or(m) AS bits FROM ({inserts}) GROUP BY w),
    marked AS (
      SELECT doc_id, source, g, is_ev,
             max(is_ev) OVER (PARTITION BY g) AS anyev
      FROM grams),
    t AS (SELECT * FROM marked WHERE is_ev = 0),
    probed AS (
      SELECT t.doc_id, t.source, t.g, t.anyev,
             CASE WHEN {allset} THEN 1 ELSE 0 END AS bloom_hit
      FROM t {' '.join(joins)})
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(bloom_hit) AS BIGINT) AS n_bloom_hits,
           CAST(sum(anyev) AS BIGINT) AS n_true_hits
    FROM probed GROUP BY source ORDER BY source
    """


@query("corpus_bloom_decontaminate", oracle=_bloom_oracle)
def corpus_bloom_decontaminate(spark, sf_dir):
    """Bloom-filter decontamination at sketch scale: build a 2^20-bit
    / 3-hash Bloom filter over the eval set's distinct 4-grams (eval =
    the doc_id % 50 == 0 sample, the decontaminate_ngram_overlap
    convention), probe every training gram against it, and report per
    source (n_grams, n_bloom_hits, n_true_hits) — bloom hits measured
    AGAINST exact truth in the same query, so the sketch's
    false-positive cost is a first-class output (no false negatives by
    construction: n_bloom_hits ≥ n_true_hits, pinned in pytest). This
    is how production decontamination actually ships: the benchmark
    suite compiles to a Bloom filter that rides broadcast to every
    executor; the exact gram join exists only to audit the FP rate.

    All-integer and hash-exact: positions are md5-derived
    (('0x'||substr(md5('bf{{j}}:'||g),1,8)) % 2^20 — the dsir bucket
    idiom), words are 32-bit lanes in BIGINTs (bit 31 max, no sign
    overflow), membership is bit_or-aggregated then tested with AND
    masks. Sizing rule: m ≈ 16·n_eval_grams keeps fill < ~20% (FP³ <
    1%); production picks m from the benchmark cardinality at build
    time — at sf0.1 the filter holds ~20k grams in 1M bits (fill ≈
    5.8%, measured FP rate 1 / 248,802 clean grams ≈ 4e-6).

    Scale shape: ONE gram-keyed exchange (the truth window) — the
    probe itself is 3 BROADCAST joins against the ≤ 32768-row filter
    table (512 KB — bounded by m, NOT by corpus size) plus a source
    agg with map-side partials. Bodies never shuffle; the eval gram
    set never broadcasts (it is corpus-proportional; the SKETCH is
    what travels)."""
    d = load(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        "source",
        (F.col("doc_id") % 50 == 0).cast("int").alias("is_ev"),
        F.explode(F.array_distinct(TX.shingles("text", 4))).alias("g"),
    )

    def pos(j: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"bf{j}:"), F.col("g"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % _BF_BITS
        )

    # ONE pass over the eval grams emits all 3 (word, mask) inserts via
    # an explode of the per-hash struct array (a 3-way union re-scanned
    # the gram subtree per branch — the plan audit flagged 10 document
    # scans), and the folded sketch is eagerly checkpointed: it is a
    # BOUNDED <= 32768-row table that 3 broadcast joins reference, and
    # AQE's broadcast conversion defeats ReusedExchange (the phash
    # lesson), so without the barrier each join re-built the filter.
    ev = grams.filter(F.col("is_ev") == 1).select("g").distinct()
    evp = ev.select(*[pos(j).alias(f"_p{j}") for j in range(_BF_HASHES)])
    inserts = evp.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.expr(f"_p{j} DIV 32").alias("w"),
                        F.expr(
                            f"shiftleft(CAST(1 AS BIGINT), "
                            f"CAST(_p{j} % 32 AS INT))"
                        ).alias("m"),
                    )
                    for j in range(_BF_HASHES)
                ]
            )
        ).alias("p")
    ).select("p.w", "p.m")
    bf = (
        inserts.groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .localCheckpoint(eager=True)
    )

    marked = grams.withColumn(
        "anyev", F.max("is_ev").over(Window.partitionBy("g"))
    ).filter(F.col("is_ev") == 0)
    probed = marked.select(
        "doc_id", "source", "anyev",
        *[pos(j).alias(f"_p{j}") for j in range(_BF_HASHES)],
    )
    allset = F.lit(True)
    for j in range(_BF_HASHES):
        bfj = bf.select(
            F.col("w").alias(f"_w{j}"), F.col("bits").alias(f"_bits{j}")
        )
        probed = probed.join(
            F.broadcast(bfj),
            F.expr(f"_p{j} DIV 32") == F.col(f"_w{j}"),
            "left",
        )
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(_p{j} % 32 AS INT))"
        )
        allset = allset & F.coalesce(
            F.col(f"_bits{j}").bitwiseAND(mask) != 0, F.lit(False)
        )
    return (
        probed.withColumn("bloom_hit", F.when(allset, 1).otherwise(0))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("bloom_hit").cast("bigint").alias("n_bloom_hits"),
            F.sum("anyev").cast("bigint").alias("n_true_hits"),
        )
        .orderBy("source")
    )


@query(
    "sample_weighted_priority",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source,
             CAST(len({_TOKS}) AS BIGINT) AS weight,
             CAST(('0x' || substr(md5('ps:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) + 1 AS u
      FROM documents),
    keyed AS (
      SELECT doc_id, source, weight,
             (weight * 4294967296) // u AS priority
      FROM w),
    ranked AS (
      SELECT doc_id, source, weight, priority,
             row_number() OVER (PARTITION BY source
                                ORDER BY priority DESC, doc_id ASC) AS rk
      FROM keyed)
    SELECT source, CAST(rk AS BIGINT) AS rank, doc_id, weight, priority
    FROM ranked WHERE rk <= 5 ORDER BY source, rank
    """,
)
def sample_weighted_priority(spark, sf_dir):
    """Weighted sampling without replacement via PRIORITY SAMPLING
    (Duffield, Lund & Thorup, JACM'07): per source, keep the k = 5
    documents with the largest priority w_i/u_i, where u_i is a
    deterministic md5-derived uniform and w_i = token count — long
    documents are proportionally more likely to be drawn, the
    token-budget-aware subsample a mixture builder wants (uniform
    sampling under-represents long docs' tokens; priority sampling's
    estimator is unbiased for any weight). The A-ES u^(1/w) key needs
    pow (libm, not hash-portable); the priority key is ONE integer
    division — (w · 2^32) DIV u with u ∈ [1, 2^32] — so the whole draw
    is exact BIGINT arithmetic, reproducible across engines and reruns
    (same hash convention as sample_split_hash / mixture_unimax_sample:
    content-addressed, no RNG state).

    One scan; the per-source top-5 is a rank window that Spark
    executes as WindowGroupLimit (per-partition top-k before the
    exchange — the batched-topk plan pin), so nothing but each
    source's 5 survivors rides the final shuffle. Overflow: w · 2^32
    < 2^63 for any w < 2^31 tokens/doc."""
    d = load(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ps:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + 1
    )
    keyed = d.select(
        "doc_id",
        "source",
        TX.token_count("text").cast("bigint").alias("weight"),
        u.alias("_u"),
    ).select(
        "doc_id",
        "source",
        "weight",
        F.expr("(weight * 4294967296) DIV _u").alias("priority"),
    )
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("priority"), F.asc("doc_id"))
    )
    return (
        keyed.withColumn("rank", rk.cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select("source", "rank", "doc_id", "weight", "priority")
        .orderBy("source", "rank")
    )


@query("corpus_bloom_stored", oracle=_bloom_oracle)
def corpus_bloom_stored(spark, sf_dir):
    """The STORED-sketch lifecycle for decontamination (write → probe):
    the eval set's Bloom filter is persisted once as a stored index
    (part ``words``; params bits / hash count / a params
    fingerprint — probing with a different geometry than the build
    mis-keys every bit, so reads raise on drift; the ANN-index
    discipline), then the training corpus is probed FROM THE STORED
    table. SHARES corpus_bloom_decontaminate's oracle verbatim: the
    parquet round-trip must not change a single membership answer.
    This is the production shape — the benchmark suite's filter is
    compiled once per release and shipped to every curation job, not
    rebuilt per run."""
    import os
    import tempfile

    d = load(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        "source",
        (F.col("doc_id") % 50 == 0).cast("int").alias("is_ev"),
        F.explode(F.array_distinct(TX.shingles("text", 4))).alias("g"),
    )

    def pos(j: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"bf{j}:"), F.col("g"))), 1, 8
                ),
                16,
                10,
            ).cast("bigint")
            % _BF_BITS
        )

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_bloom_{tag}")
    ev = grams.filter(F.col("is_ev") == 1).select("g").distinct()
    evp = ev.select(*[pos(j).alias(f"_p{j}") for j in range(_BF_HASHES)])
    inserts = evp.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.expr(f"_p{j} DIV 32").alias("w"),
                        F.expr(
                            f"shiftleft(CAST(1 AS BIGINT), "
                            f"CAST(_p{j} % 32 AS INT))"
                        ).alias("m"),
                    )
                    for j in range(_BF_HASHES)
                ]
            )
        ).alias("p")
    ).select("p.w", "p.m")
    bf_build = inserts.groupBy("w").agg(F.bit_or("m").alias("bits"))
    fp = f"bits={_BF_BITS};hashes={_BF_HASHES};hash=md5-bf"
    SI.commit(
        path,
        "bloom",
        {"bits": int(_BF_BITS), "hashes": int(_BF_HASHES), "params": fp},
        {"words": SI.write_part(bf_build, path, "words")},
    )

    idx = SI.open_index(path, "bloom", ("bits", "hashes", "params"))
    if idx.params["params"] != fp:
        raise ValueError(
            "bloom-geometry drift: the stored sketch was built with "
            f"{idx.params['params']!r}, this probe expects {fp!r}"
        )
    bf = idx.read(spark, "words")

    marked = grams.withColumn(
        "anyev", F.max("is_ev").over(Window.partitionBy("g"))
    ).filter(F.col("is_ev") == 0)
    probed = marked.select(
        "doc_id", "source", "anyev",
        *[pos(j).alias(f"_p{j}") for j in range(_BF_HASHES)],
    )
    allset = F.lit(True)
    for j in range(_BF_HASHES):
        bfj = bf.select(
            F.col("w").alias(f"_w{j}"), F.col("bits").alias(f"_bits{j}")
        )
        probed = probed.join(
            F.broadcast(bfj),
            F.expr(f"_p{j} DIV 32") == F.col(f"_w{j}"),
            "left",
        )
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(_p{j} % 32 AS INT))"
        )
        allset = allset & F.coalesce(
            F.col(f"_bits{j}").bitwiseAND(mask) != 0, F.lit(False)
        )
    return (
        probed.withColumn("bloom_hit", F.when(allset, 1).otherwise(0))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("bloom_hit").cast("bigint").alias("n_bloom_hits"),
            F.sum("anyev").cast("bigint").alias("n_true_hits"),
        )
        .orderBy("source")
    )


# ---- hashed n-gram quality classifier (fastText-shape, r7) ---------
_QC_D = 32
# planted integer teacher over the bucket space: deterministic driver
# literal in BOTH engines (the _centroids discipline — the value check
# verifies the engines' feature hashing + training APPLICATION)
_QC_TEACHER = [((j * 37 + 11) % 21) - 10 for j in range(_QC_D)]


def _quality_classifier_cte() -> str:
    """The shared WITH-body mirroring hashed_ngram_classifier at 3
    rounds: hashed unigram+bigram counts, teacher labels, three
    unrolled perceptron updates (w1..w3 — round 1 is closed-form:
    w0 = 0 makes every document a mistake), final w3 scores in
    ``sc(doc_id, s)`` and labels in ``lab(doc_id, y)``. Composed by
    _quality_classifier_oracle and _quality_topfrac_oracle."""
    t_rows = ", ".join(f"({j}, {t})" for j, t in enumerate(_QC_TEACHER))
    bucket = f"CAST(('0x' || substr(md5('q:' || g), 1, 6)) AS BIGINT) % {_QC_D}"
    return f"""
    WITH raw AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    gr AS (
      SELECT doc_id, unnest(list_concat(toks, {grams_expr("toks", 2)})) AS g
      FROM raw),
    feat AS (
      SELECT doc_id, {bucket} AS j, CAST(count(*) AS BIGINT) AS cnt
      FROM gr GROUP BY 1, 2),
    teacher AS (SELECT * FROM (VALUES {t_rows}) te(j, t)),
    lab AS (
      SELECT f.doc_id, CASE WHEN sum(f.cnt * te.t) > 0 THEN 1 ELSE -1 END AS y
      FROM feat f JOIN teacher te USING (j) GROUP BY 1),
    w1 AS (
      SELECT te.j, coalesce(g.g, 0) AS w FROM teacher te LEFT JOIN (
        SELECT f.j, sum(l.y * f.cnt) AS g
        FROM feat f JOIN lab l USING (doc_id) GROUP BY f.j) g USING (j)),
    z2 AS (SELECT f.doc_id, sum(f.cnt * w1.w) AS z
           FROM feat f JOIN w1 USING (j) GROUP BY 1),
    m2 AS (SELECT l.doc_id, l.y FROM lab l JOIN z2 USING (doc_id)
           WHERE l.y * z2.z <= 0),
    w2 AS (
      SELECT w1.j, w1.w + coalesce(g.g, 0) AS w FROM w1 LEFT JOIN (
        SELECT f.j, sum(m.y * f.cnt) AS g
        FROM m2 m JOIN feat f USING (doc_id) GROUP BY f.j) g USING (j)),
    z3 AS (SELECT f.doc_id, sum(f.cnt * w2.w) AS z
           FROM feat f JOIN w2 USING (j) GROUP BY 1),
    m3 AS (SELECT l.doc_id, l.y FROM lab l JOIN z3 USING (doc_id)
           WHERE l.y * z3.z <= 0),
    w3 AS (
      SELECT w2.j, w2.w + coalesce(g.g, 0) AS w FROM w2 LEFT JOIN (
        SELECT f.j, sum(m.y * f.cnt) AS g
        FROM m3 m JOIN feat f USING (doc_id) GROUP BY f.j) g USING (j)),
    sc AS (SELECT f.doc_id, sum(f.cnt * w3.w) AS s
           FROM feat f JOIN w3 USING (j) GROUP BY 1)
    """


def _quality_classifier_oracle() -> str:
    return (
        _quality_classifier_cte()
        + """
    SELECT l.doc_id, CAST(sc.s AS BIGINT) AS score,
           CAST(l.y AS BIGINT) AS label, sc.s > 0 AS keep
    FROM lab l JOIN sc USING (doc_id)
    ORDER BY doc_id
    """
    )


def _quality_topfrac_oracle() -> str:
    """The classifier CTE + exact top-40% VALUE threshold: t = the
    minimum of the top-k scores (k = 2N DIV 5), keep = score ≥ t —
    ties at the threshold are kept, so the rule is a pure function of
    the score multiset (no global doc-order tie-break needed)."""
    return (
        _quality_classifier_cte()
        + """
    , n AS (SELECT count(*) AS n FROM sc),
    th AS (
      SELECT min(s) AS t FROM (
        SELECT s, row_number() OVER (ORDER BY s DESC) AS rn FROM sc) q, n
      WHERE q.rn <= greatest(1, (2 * n.n) // 5))
    SELECT sc.doc_id, CAST(sc.s AS BIGINT) AS score, sc.s >= th.t AS keep
    FROM sc, th ORDER BY doc_id
    """
    )


@query("docs_quality_classifier", oracle=_quality_classifier_oracle)
def docs_quality_classifier(spark, sf_dir):
    """The fastText-shaped corpus QUALITY FILTER (Joulin et al. 2017;
    the standard learned keep/drop pass LLM pipelines run after
    heuristic filtering): a linear classifier over hashed
    unigram+bigram bucket counts, trained DISTRIBUTED (3 synchronous
    exact-integer perceptron rounds — one scan with 33 map-side
    BIGINT sums per round, only the 32-scalar weight vector crossing
    the driver) and scored in one narrow pass, emitting per-document
    (score, label, keep). Labels are a planted integer teacher over
    the bucket space (teacher recovery — separable by construction,
    so the mistake trajectory is meaningful and the whole training
    run is hash-exact; a production run swaps in annotation labels).
    The oracle replays feature hashing, labeling, all three updates,
    and scoring as unrolled CTE blocks, so the row is red if the gram
    clamp, the bucket hash, the mistake rule, or any update drifts.
    Python-model equivalence: tests/test_operators.py."""
    d = load(spark, sf_dir, "documents")
    return TX.hashed_ngram_classifier(
        d, "doc_id", "text", _QC_TEACHER, iterations=3
    ).orderBy("doc_id")


@query("docs_quality_topfrac", oracle=_quality_topfrac_oracle)
def docs_quality_topfrac(spark, sf_dir):
    """Corpus curation by QUANTILE, not sign: keep the top 40% of
    documents by classifier score — the budgeted form of the quality
    filter (a data-mixture plan says "keep the best X tokens", not
    "keep positives"). The threshold is the exact k-th largest score
    (k = 2N DIV 5) computed WITHOUT a global data sort: score-keyed
    histogram (map-side combinable), a cumulative sum over the
    DISTINCT-score histogram (single-partition window — bounded by
    score cardinality, orders of magnitude below corpus rows; a
    production variant pre-buckets scores first), then one broadcast
    threshold join. Ties at the threshold are KEPT, so the decision
    is a pure function of the score multiset — deterministic with no
    global doc-order tie-break, hence hash-exact. Output: every doc
    with (score, keep)."""
    from pyspark.sql import Window as W

    from ..operators import text as TX

    d = load(spark, sf_dir, "documents")
    # featurize ONCE (r12): the classifier trains and serves from one
    # materialized (_x, _y) working set; score is a cheap dot-product
    # projection of that checkpoint. The previous shape ran the md5
    # featurize chain twice over the corpus (train + score) and
    # checkpointed twice — fingerprint-identical, every paired rep
    # faster (EXP_QUALITY_TOPFRAC.json)
    scored = TX.hashed_ngram_classifier(
        d, "doc_id", "text", _QC_TEACHER, iterations=3
    ).select("doc_id", "score")
    # k >= 1 (mirrored by greatest(1, …) in the oracle): at N < 3 docs
    # a zero k would make the cumulative filter vacuous and the
    # threshold collapse to the global max — the oracle's empty top-k
    # would yield NULL instead, a latent small-input mismatch
    k = max(1, (2 * scored.count()) // 5)
    hist = scored.groupBy("score").agg(F.count(F.lit(1)).alias("_c"))
    th = (
        hist.withColumn(
            "_cum",
            F.sum("_c").over(
                W.orderBy(F.desc("score")).rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
            ),
        )
        .filter(F.col("_cum") >= k)
        .agg(F.max("score").alias("_t"))
    )
    return (
        scored.crossJoin(F.broadcast(th))
        .select(
            "doc_id", "score", (F.col("score") >= F.col("_t")).alias("keep")
        )
        .orderBy("doc_id")
    )


# --- document chunking for embedding pipelines (r8) ------------------

_CHUNK_T, _CHUNK_OV = 32, 8  # window / overlap (stride 24)

_CHUNK_CTE = f"""
    WITH raw AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    st AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(range(0, greatest(len(toks), 1), {_CHUNK_T - _CHUNK_OV})) AS s
      FROM raw),
    fst AS (
      SELECT doc_id, toks, n, s,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1
                  AS BIGINT) AS chunk_idx
      FROM st WHERE s = 0 OR s < n - {_CHUNK_OV}),
    ch AS (
      SELECT doc_id, chunk_idx,
             array_to_string(toks[s+1:s+{_CHUNK_T}], ' ') AS chunk_text,
             CAST(len(toks[s+1:s+{_CHUNK_T}]) AS BIGINT) AS n_tokens,
             CASE WHEN s = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(coalesce(list_sum(
                         list_transform(toks[1:s], t -> length(t))), 0) + s
                       AS BIGINT)
             END AS char_start
      FROM fst)
"""


def _chunk_windows_oracle() -> str:
    return (
        _CHUNK_CTE
        + """
    SELECT doc_id, chunk_idx, chunk_text, n_tokens, char_start,
           CAST(char_start + length(chunk_text) AS BIGINT) AS char_end
    FROM ch WHERE n_tokens > 0
    ORDER BY doc_id, chunk_idx
    """
    )


@query("docs_chunk_windows", oracle=_chunk_windows_oracle)
def docs_chunk_windows(spark, sf_dir):
    """Fixed-token chunk windows with overlap + provenance — the
    pre-embedding step every retrieval pipeline runs before the ANN
    family's write side (which until now consumed pre-made
    embeddings). Boundaries are deterministic integer arithmetic
    (stride = chunk − overlap, contained-tail drop), char spans index
    the whitespace-normalized text, so the row is hash-exact against
    the unrolled SQL. Pure map-side sequence/slice/posexplode work —
    zero shuffles, zero UDFs (operators.text.chunk_documents)."""
    d = load(spark, sf_dir, "documents")
    return TX.chunk_documents(
        d, "doc_id", "text", chunk_tokens=_CHUNK_T, overlap=_CHUNK_OV
    ).orderBy("doc_id", "chunk_idx")


_CEMB_D = 8


def _chunk_query_vec() -> list[int]:
    import hashlib as _h

    return [
        int(_h.md5(f"embq:{d}".encode()).hexdigest()[:6], 16) % 1001 - 500
        for d in range(_CEMB_D)
    ]


def _chunk_emb_ann_oracle() -> str:
    dims = ", ".join(
        f"CAST(CAST(('0x' || substr(md5('emb{d}:' || chunk_text), 1, 6)) "
        f"AS BIGINT) % 1001 - 500 AS DOUBLE)"
        for d in range(_CEMB_D)
    )
    qv = "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in _chunk_query_vec()) + "]"

    def dot(a: str, b: str) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {_CEMB_D + 1}), "
            f"i -> CAST(({a})[i] AS DOUBLE) * CAST(({b})[i] AS DOUBLE))), "
            f"(acc, v) -> acc + v)"
        )

    return (
        _CHUNK_CTE
        + f"""
    , emb AS (
      SELECT doc_id * 10000 + chunk_idx AS chunk_id, [{dims}] AS e
      FROM ch WHERE n_tokens > 0),
    q AS (SELECT {qv} AS qv)
    SELECT emb.chunk_id,
           round({dot("emb.e", "q.qv")}
                 / (sqrt({dot("emb.e", "emb.e")}) * sqrt({dot("q.qv", "q.qv")})),
                 6) AS score
    FROM emb, q
    ORDER BY score DESC, chunk_id ASC
    LIMIT 10
    """
    )


@query("docs_chunk_embed_ann_topk", oracle=_chunk_emb_ann_oracle)
def docs_chunk_embed_ann_topk(spark, sf_dir):
    """The COMPOSED chunk → embed-stub → ANN handoff: chunk the
    corpus, derive a deterministic integer-valued stub embedding per
    chunk (md5-per-dimension — the multimodal fake-decode discipline:
    the real model is environment-gated, the Spark-side plumbing is
    real and hash-exact), and feed the (chunk_id, embedding) frame
    into the ANN family's exact-cosine baseline for a fixed stub
    query. Proves the chunker's output schema drives the similarity
    operators end-to-end; the stored-index handoff (same frame
    through the SQ8 index write/read lifecycle) is pinned by pytest.
    Plan shape: chunking is map-side, scoring is a broadcast-literal
    projection, top-k is TakeOrderedAndProject — no shuffle."""
    from ..operators import similarity as SIM

    d = load(spark, sf_dir, "documents")
    chunks = TX.chunk_documents(
        d, "doc_id", "text", chunk_tokens=_CHUNK_T, overlap=_CHUNK_OV
    )
    emb = chunks.select(
        (F.col("doc_id") * 10000 + F.col("chunk_idx"))
        .cast("bigint")
        .alias("chunk_id"),
        F.array(
            *[
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"emb{d}:"), F.col("chunk_text"))),
                            1,
                            6,
                        ),
                        16,
                        10,
                    ).cast("bigint")
                    % 1001
                    - 500
                ).cast("double")
                for d in range(_CEMB_D)
            ]
        ).alias("embedding"),
    )
    return SIM.cosine_topk(
        emb, [float(x) for x in _chunk_query_vec()], k=10, id_col="chunk_id"
    )


# --- stored quality model: the registry serving path (r8) ------------


def _quality_model_score_oracle() -> str:
    return (
        _quality_classifier_cte()
        + """
    SELECT sc.doc_id, CAST(sc.s AS BIGINT) AS score, sc.s > 0 AS keep
    FROM sc ORDER BY doc_id
    """
    )


@query("docs_quality_model_score", oracle=_quality_model_score_oracle)
def docs_quality_model_score(spark, sf_dir):
    """Serving from the STORED model registry: train + persist the
    hashed-n-gram quality model (weights + feature geometry as a
    stored index — operators.text.write_quality_model), then
    score the corpus FROM THE STORED artifact. The oracle replays
    training + scoring from scratch in SQL, so the row is red if the
    store/load round-trip perturbs a single weight or the drift/torn
    guards mis-load. This is the model-registry shape a production
    curation pipeline serves from: train once per release, every
    scoring job (batch, streaming twin, top-fraction curation) loads
    the same frozen artifact."""
    import os as _os
    import tempfile as _tempfile

    d = load(spark, sf_dir, "documents")
    tag = _os.path.basename(_os.path.normpath(sf_dir)) or "sf"
    path = _os.path.join(_tempfile.gettempdir(), f"lrmr_qmodel_{tag}")
    TX.write_quality_model(d, path, "text", _QC_TEACHER, iterations=3)
    return TX.score_with_quality_model(d, path, "doc_id", "text").orderBy(
        "doc_id"
    )


@query("docs_quality_topfrac_bucketed", oracle=_quality_topfrac_oracle)
def docs_quality_topfrac_bucketed(spark, sf_dir):
    """The PRE-BUCKETED top-fraction curation variant — SHARES
    docs_quality_topfrac's oracle verbatim (the threshold rule is a
    pure function of the score multiset, so both forms must answer
    identically): the exact k-th-largest score is located via a
    coarse score-bucket histogram → threshold bucket + rank remainder
    → refinement inside that one bucket
    (operators.text.exact_topk_threshold_bucketed), so threshold
    selection never funnels the distinct-score histogram through one
    partition — the scale path when scores are high-cardinality
    (the single-window form is the adversarial-input victim: an
    all-distinct-score corpus pushes one row per document through a
    single task). Equivalence on exactly that adversarial input is
    pytested."""
    d = load(spark, sf_dir, "documents")
    # featurize ONCE via the classifier's shared working set — same
    # restructure as docs_quality_topfrac (EXP_QUALITY_TOPFRAC.json)
    scored = TX.hashed_ngram_classifier(
        d, "doc_id", "text", _QC_TEACHER, iterations=3
    ).select("doc_id", "score")
    k = max(1, (2 * scored.count()) // 5)
    th = TX.exact_topk_threshold_bucketed(scored, "score", k, bucket_width=1024)
    return (
        scored.crossJoin(F.broadcast(th))
        .select(
            "doc_id", "score", (F.col("score") >= F.col("_t")).alias("keep")
        )
        .orderBy("doc_id")
    )


# chunk-embedding SQ8 quantizer literals: the stub embedding is integer
# -valued in [-500, 500] per dimension, so the full-range parameters
# are exact driver literals on both engines
_CEMB_MIN, _CEMB_SCALE = -500.0, 255.0 / 1000.0


def _chunk_sq8_qcodes() -> list[int]:
    import math as _math

    return [
        max(0, min(255, _math.floor((x - _CEMB_MIN) * _CEMB_SCALE)))
        for x in _chunk_query_vec()
    ]


def _chunk_emb_sq8_oracle() -> str:
    dims = ", ".join(
        f"CAST(CAST(('0x' || substr(md5('emb{d}:' || chunk_text), 1, 6)) "
        f"AS BIGINT) % 1001 - 500 AS DOUBLE)"
        for d in range(_CEMB_D)
    )
    q = "[" + ", ".join(str(c) for c in _chunk_sq8_qcodes()) + "]::BIGINT[]"
    codes = (
        f"list_transform(range(1, {_CEMB_D + 1}), i -> CAST(greatest(0, "
        f"least(255, CAST(floor((e[i] - CAST('{_CEMB_MIN!r}' AS DOUBLE)) * "
        f"CAST('{_CEMB_SCALE!r}' AS DOUBLE)) AS BIGINT))) AS BIGINT))"
    )
    return (
        _CHUNK_CTE
        + f"""
    , emb AS (
      SELECT doc_id * 10000 + chunk_idx AS chunk_id, [{dims}] AS e
      FROM ch WHERE n_tokens > 0),
    c AS (SELECT chunk_id, {codes} AS codes FROM emb)
    SELECT chunk_id,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, {_CEMB_D + 1}),
               i -> (codes[i] - ({q})[i]) * (codes[i] - ({q})[i]))),
             (acc, v) -> acc + v) AS BIGINT) AS sdc_dist
    FROM c ORDER BY sdc_dist ASC, chunk_id ASC LIMIT 10
    """
    )


@query("docs_chunk_embed_sq8_topk", oracle=_chunk_emb_sq8_oracle)
def docs_chunk_embed_sq8_topk(spark, sf_dir):
    """The chunk → embed-stub → STORED-INDEX lifecycle as a hash-green
    row (docs_chunk_embed_ann_topk's exact-baseline twin through the
    persisted path): chunk the corpus, stub-embed each chunk, WRITE
    the SQ8 codes table (operators.similarity.write_sq8_codes — params
    fingerprint, codes-only layout), then answer a symmetric-distance
    top-10 FROM THE STORED TABLE with a driver-quantized query. The
    oracle replays chunking, embedding, quantization, and SDC in SQL,
    so a drifted chunk boundary, a flipped boundary code, or a
    store/read perturbation turns the row red. Distances are exact
    BIGINT (the SQ8 discipline) — no float tolerance anywhere."""
    import os as _os
    import tempfile as _tempfile

    from ..operators import similarity as SIM

    d = load(spark, sf_dir, "documents")
    chunks = TX.chunk_documents(
        d, "doc_id", "text", chunk_tokens=_CHUNK_T, overlap=_CHUNK_OV
    )
    emb = chunks.select(
        (F.col("doc_id") * 10000 + F.col("chunk_idx"))
        .cast("bigint")
        .alias("chunk_id"),
        F.array(
            *[
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"emb{d}:"), F.col("chunk_text"))),
                            1,
                            6,
                        ),
                        16,
                        10,
                    ).cast("bigint")
                    % 1001
                    - 500
                ).cast("double")
                for d in range(_CEMB_D)
            ]
        ).alias("embedding"),
    )
    mins = [_CEMB_MIN] * _CEMB_D
    scales = [_CEMB_SCALE] * _CEMB_D
    tag = _os.path.basename(_os.path.normpath(sf_dir)) or "sf"
    path = _os.path.join(_tempfile.gettempdir(), f"lrmr_chunk_sq8_{tag}")
    SIM.write_sq8_codes(emb, path, mins, scales, id_col="chunk_id")
    return SIM.sq8_sdc_topk_stored(
        spark, path, _chunk_sq8_qcodes(), mins, scales, k=10
    )
