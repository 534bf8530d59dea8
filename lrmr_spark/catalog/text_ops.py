"""Text-analysis catalog entries over the documents table.

Every oracle embeds the same deterministic spec (stopword list,
thresholds, md5 normalization) as the Spark operators in
lrmr_spark.operators.text.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import text as TX
from ..tables import load
from . import _ORACLES, query
from .oracle_util import grams_expr

_STOP_SQL = "(" + ", ".join(f"'{s}'" for s in TX.STOPWORDS) + ")"

# DuckDB token list for whitespace-split text with empties filtered
_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct_tokens
    FROM documents
    """,
)
def text_token_stats(spark, sf_dir):
    """Token counting: whitespace tokenizer, char/token/distinct-token
    counts. One projection, no shuffle."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        TX.token_count("text").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(TX.tokens("text"))).cast("bigint").alias("n_distinct_tokens"),
    )


@query(
    "text_quality_features",
    oracle=f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           round((length(text) - (len({_TOKS}) - 1))
                 / CAST(greatest(len({_TOKS}), 1) AS DOUBLE), 4) AS avg_token_len,
           round(len(list_filter({_TOKS}, t -> t IN {_STOP_SQL}))
                 / CAST(greatest(len({_TOKS}), 1) AS DOUBLE), 4) AS stopword_ratio,
           round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                 / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS punct_ratio
    FROM documents
    """,
)
def text_quality_features(spark, sf_dir):
    """Quality scoring features (length / token / stopword / punctuation
    ratios) for training-data filtering."""
    d = load(spark, sf_dir, "documents")
    feats = TX.quality_features("text")
    return d.select("doc_id", *[c.alias(n) for n, c in feats.items()])


@query(
    "text_langid",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN len(list_filter({_TOKS}, t -> t IN {_STOP_SQL}))
                     / CAST(greatest(len({_TOKS}), 1) AS DOUBLE) >= 0.03
                THEN 'en' ELSE 'unknown' END AS lang_pred,
           round(len(list_filter({_TOKS}, t -> t IN {_STOP_SQL}))
                 / CAST(greatest(len({_TOKS}), 1) AS DOUBLE), 4) AS marker_ratio
    FROM documents
    """,
)
def text_langid(spark, sf_dir):
    """Heuristic language-ID (stopword-marker ratio ≥ 3% → 'en'). The
    deterministic spec doubles as the oracle; per-language marker sets
    plug into the same shape (operators.text.language_id)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.language_id("text").alias("lang_pred"),
        F.round(TX.language_scores("text"), 4).alias("marker_ratio"),
    )


@query(
    "lang_mismatch_audit",
    oracle=f"""
    WITH scored AS (
      SELECT source, lang,
             CASE WHEN len(list_filter({_TOKS}, t -> t IN {_STOP_SQL}))
                       / CAST(greatest(len({_TOKS}), 1) AS DOUBLE) >= 0.03
                  THEN 'en' ELSE 'unknown' END AS pred
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN lang = 'en' AND pred <> 'en' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missed_en,
           CAST(sum(CASE WHEN lang <> 'en' AND pred = 'en' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_en,
           round(sum(CASE WHEN (lang = 'en') <> (pred = 'en') THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 4) AS mismatch_rate
    FROM scored GROUP BY source
    """,
)
def lang_mismatch_audit(spark, sf_dir):
    """Metadata-vs-content language audit: per source, how often the
    declared ``lang`` column disagrees with content language-ID — the
    standard crawl-curation QA gate (mislabeled language is a top
    contamination vector for monolingual corpora). n_missed_en =
    declared en, content says not; n_false_en = declared non-en,
    content reads as en. One scan, bounded-key agg — sums are
    map-side-combinable, nothing but (source, 4 longs) shuffles.
    Aggregates CAST to BIGINT (DuckDB sum() widens to HUGEINT and the
    gate hash is type-sensitive — the r3 lesson)."""
    d = load(spark, sf_dir, "documents")
    pred = TX.language_id("text")
    mismatch = (F.col("lang") == "en") != (pred == "en")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(((F.col("lang") == "en") & (pred != "en")).cast("int"))
        .cast("bigint")
        .alias("n_missed_en"),
        F.sum(((F.col("lang") != "en") & (pred == "en")).cast("int"))
        .cast("bigint")
        .alias("n_false_en"),
        F.round(
            F.sum(mismatch.cast("int")) / F.count(F.lit(1)), 4
        ).alias("mismatch_rate"),
    )


@query(
    "text_bpe_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(list_distinct(
             regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT)
             AS n_bpe_vocab,
           regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')[1] AS first_bpe
    FROM documents
    """,
)
def text_bpe_tokens(spark, sf_dir):
    """BPE-ish regex tokenization (letter runs | digit runs | single
    punctuation — the GPT-2-style pre-tokenizer shape): token counts
    and vocabulary size per document, JVM-side regexp_extract_all."""
    d = load(spark, sf_dir, "documents")
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    toks = F.regexp_extract_all("text", F.lit(pat), 0)
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_bpe_vocab"),
        F.element_at(toks, 1).alias("first_bpe"),
    )


@query(
    "sample_split_hash",
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'd'
                THEN 'train' ELSE 'test' END AS split,
           substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 2) < '1a' AS in_sample
    FROM documents
    """,
)
def sample_split_hash(spark, sf_dir):
    """Deterministic hash-based sampling + train/test split — the
    reproducible, engine-portable way to sample at 100 TB (seeded
    rand() depends on partitioning; a content hash never does). First
    hex digit < 'd' → ~81% train; first two digits < '1a' → ~10%
    sample. Fully parallel, no shuffle, stable across reruns and
    engines."""
    d = load(spark, sf_dir, "documents")
    key = F.col("doc_id").cast("string")
    split = F.when(
        F.substring(F.md5(F.concat(F.lit("split:"), key)), 1, 1) < "d", "train"
    ).otherwise("test")
    in_sample = F.substring(F.md5(F.concat(F.lit("sample:"), key)), 1, 2) < "1a"
    return d.select("doc_id", split.alias("split"), in_sample.alias("in_sample"))


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 8)
             AS fp_prefix
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Canonical document fingerprint (md5 of normalized text) +
    bucket-able prefix."""
    d = load(spark, sf_dir, "documents")
    fp = TX.fingerprint("text")
    return d.select(
        "doc_id", fp.alias("fp"), F.substring(fp, 1, 8).alias("fp_prefix")
    )


@query(
    "text_top_terms",
    oracle=f"""
    SELECT tok, count(*) AS cnt FROM (
      SELECT unnest({_TOKS}) AS tok FROM documents
    ) t
    GROUP BY tok ORDER BY cnt DESC, tok ASC LIMIT 20
    """,
)
def text_top_terms(spark, sf_dir):
    """Corpus vocabulary heavy hitters: exact top-20 terms by frequency
    (explode → wordcount → TakeOrderedAndProject; tie-broken by token
    so the cut is deterministic). The exact two-shuffle formulation is
    right up to ~10^9 distinct terms; past that swap the final top-k
    for approx count-min/frequent-items with the same output schema."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(20)
    )


@query(
    "docs_length_histogram",
    oracle=f"""
    SELECT CAST(least(floor(len({_TOKS}) / 10), 10) AS BIGINT) AS bucket,
           count(*) AS n_docs,
           CAST(min(len({_TOKS})) AS BIGINT) AS min_tokens,
           CAST(max(len({_TOKS})) AS BIGINT) AS max_tokens
    FROM documents GROUP BY 1
    """,
)
def docs_length_histogram(spark, sf_dir):
    """Sequence-length distribution (token-count histogram, 10-wide
    buckets capped at 100+) — the profile every training-data pipeline
    computes before choosing context-length/packing parameters. One
    scan, one bounded-key aggregation."""
    d = load(spark, sf_dir, "documents")
    n = TX.token_count("text")
    bucket = F.least(F.floor(n / 10), F.lit(10)).cast("bigint")
    return d.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(n).cast("bigint").alias("min_tokens"),
        F.max(n).cast("bigint").alias("max_tokens"),
    )


# raw (order-preserving) token list for n-gram construction
_RAW_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"

# 4-gram strings over the raw token stream, mirroring
# operators.text.shingles(k=4): indices 1..max(n-4,0)+1, clamped.
# Built via oracle_util.grams_expr (explicit element concat, no
# bracket slices — slice semantics have drifted across DuckDB versions).
_GRAMS4_SQL = f"""
  SELECT doc_id,
         unnest(list_distinct({grams_expr("toks", 4)})) AS g
  FROM (SELECT doc_id, {_RAW_TOKS} AS toks FROM documents) raw
"""


@query(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH grams AS ({_GRAMS4_SQL}),
    eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0)
    SELECT doc_id, count(*) AS n_hit_grams
    FROM (SELECT doc_id, g FROM grams WHERE doc_id % 50 <> 0) train
    JOIN eval_grams USING (g)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def decontaminate_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination: flag training documents sharing any
    4-gram with the eval set (here the deterministic doc_id%50 sample
    stands in for a held-out benchmark suite; real deployments use
    8-13 grams — n is a parameter). The canonical train-on-test leak
    detector (GPT-3 §B / PaLM-style n-gram overlap).

    Scale shape: both sides explode to DISTINCT per-doc grams; the join
    key is the gram string (at 100 TB: xxhash64 of the gram, shrinking
    shuffle width to 8 bytes — md5-free fast path mirrors
    operators.dedup's). Eval-benchmark grams are bounded in practice
    (benchmarks are fixed-size, a few MB), so AQE broadcasts that side;
    no explicit hint because here the sample is data-proportional.
    Per-doc gram sets are deduped BEFORE the shuffle, so a doc
    repeating one leaked gram 1000× still costs one row. Single-pass
    formulation: rather than materializing the eval gram set and
    joining (two scans + shingle recompute — measured ~2× slower), each
    gram partition marks itself via a window-max over the gram key —
    one scan, one shuffle on the gram, one bounded doc_id aggregation.
    Hot-gram skew lands on the gram shuffle either way; AQE skew-split
    handles it."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id", F.explode(F.array_distinct(TX.shingles("text", 4))).alias("g")
    )
    is_eval = (F.col("doc_id") % 50 == 0).cast("int")
    has_eval = F.max(is_eval).over(Window.partitionBy("g"))
    return (
        grams.withColumn("_ev", is_eval)
        .withColumn("_hit", has_eval)
        .filter((F.col("_hit") == 1) & (F.col("_ev") == 0))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
        .orderBy("doc_id")
    )


@query(
    "stratified_sample_by_lang",
    oracle="""
    SELECT lang, count(*) AS n_total,
           CAST(sum(CASE WHEN substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 2)
                         < (CASE WHEN lang = 'en' THEN '33' ELSE 'cc' END)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def stratified_sample_by_lang(spark, sf_dir):
    """Stratified downsampling: per-language keep rates (dominant 'en'
    → ~20%, minority languages → ~80%) decided by a content hash, the
    reproducible way to rebalance a corpus at 100 TB — seeded rand()
    depends on partitioning; md5(doc_id) never does. One scan, one
    bounded-key aggregation; the per-doc kept flag is a pure projection
    usable as a filter in the real pipeline."""
    d = load(spark, sf_dir, "documents")
    h2 = F.substring(
        F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))), 1, 2
    )
    cut = F.when(F.col("lang") == "en", "33").otherwise("cc")
    kept = F.when(h2 < cut, 1).otherwise(0)
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(kept).alias("n_kept"),
        )
        .orderBy("lang")
    )


@query(
    "quality_filter_funnel",
    oracle=f"""
    SELECT lang, source, count(*) AS n_total,
           CAST(sum(CASE WHEN length(text) >= 100
                     AND len({_TOKS}) >= 20
                     AND round(len(list_filter({_TOKS}, t -> t IN {_STOP_SQL}))
                          / CAST(greatest(len({_TOKS}), 1) AS DOUBLE), 4) >= 0.01
                     AND round((length(text)
                          - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                          / CAST(greatest(length(text), 1) AS DOUBLE), 4) <= 0.30
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
)
def quality_filter_funnel(spark, sf_dir):
    """C4-style quality filter funnel: per (lang, source) how many docs
    survive the rule set (min length 100 chars / 20 tokens, stopword
    ratio ≥ 1%, punctuation ratio ≤ 30%). Ratios compared on the same
    4-decimal rounding as text_quality_features so the predicate is
    engine-exact. The per-source retention profile is how corpus
    curators decide which sources to drop entirely. One scan, all
    predicates inside whole-stage codegen, bounded-key aggregation."""
    d = load(spark, sf_dir, "documents")
    feats = TX.quality_features("text")
    keep = (
        (feats["n_chars"] >= 100)
        & (feats["n_tokens"] >= 20)
        & (feats["stopword_ratio"] >= 0.01)
        & (feats["punct_ratio"] <= 0.30)
    )
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy("lang", "source")
    )


@query(
    "pack_sequences",
    oracle=f"""
    SELECT doc_id, source, n_tok,
           CAST(floor(cb / 256) AS BIGINT) AS chunk_id,
           CAST(cb % 256 AS BIGINT) AS offset_in_chunk
    FROM (SELECT doc_id, source, len({_RAW_TOKS}) AS n_tok,
                 coalesce(sum(len({_RAW_TOKS})) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
          FROM documents) x
    ORDER BY doc_id
    """,
)
def pack_sequences(spark, sf_dir):
    """Sequence packing for training: concatenate each source shard's
    token stream in doc_id order and locate every document in the
    fixed-size context-window grid (chunk 256 tokens here) — chunk id
    and offset where the doc starts. This is the GPT-style
    concat-then-chunk packing layout computed WITHOUT materializing
    tokens: one running-sum window per shard.

    Scale: the window partitions by source shard, so no global
    single-partition ordering exists (the classic packing scale-killer
    — a PARTITION-BY-less running sum funnels 100 TB through one
    task). Shards pack independently, which is also what a real loader
    wants (per-shard deterministic layout, shard-parallel io)."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    n_tok = TX.token_count("text")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cb = F.coalesce(F.sum(n_tok).over(w), F.lit(0))
    return (
        d.select(
            "doc_id",
            "source",
            n_tok.alias("n_tok"),
            F.floor(cb / 256).cast("bigint").alias("chunk_id"),
            (cb % 256).cast("bigint").alias("offset_in_chunk"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents) x
      GROUP BY doc_id, tok),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.tok,
             t.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS score
      FROM tf t JOIN df USING (tok) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, tok, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, tok ASC) AS rnk
      FROM scored)
    SELECT doc_id, tok, round(score, 6) AS score, rnk
    FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk
    """,
)
def text_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 terms by TF-IDF (smoothed idf = ln((N+1)/
    (df+1))) — the classic keyword/feature extraction pass. Three
    bounded-key aggregations (term counts, document frequency, corpus
    size) + one per-doc window; document frequency is vocabulary-sized
    and the 1-row corpus count broadcasts. Ties broken by term so the
    top-3 cut is deterministic."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        tf.join(df, "tok")
        .join(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "tok", F.round("score", 6).alias("score"), "rnk")
        .orderBy("doc_id", "rnk")
    )


@query(
    "text_pii_redaction",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 7 = 0
               THEN ' reach user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-123-4567 ssn 123-45-6789'
               ELSE '' END AS text
      FROM documents),
    red AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\\+?[0-9][0-9()\\- ]{7,}[0-9]', '<PHONE>', 'g'),
               '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g') AS redacted
      FROM aug)
    SELECT doc_id, redacted,
           CAST(len(regexp_extract_all(redacted, '<EMAIL>|<PHONE>|<SSN>')) AS BIGINT)
             AS n_redactions
    FROM red
    """,
)
def text_pii_redaction(spark, sf_dir):
    """PII-style redaction pass (emails, phone-number shapes, SSN
    patterns → typed placeholder tokens) + per-doc redaction count —
    the compliance scrub every public-crawl corpus runs before
    training. Pure JVM regexp_replace chain: one scan, zero shuffles,
    whole-stage codegen; the pattern set is a parameter in production
    (this catalog entry pins three canonical shapes). The synthetic
    corpus carries no PII, so the query plants deterministic
    email/phone/SSN strings on doc_id%7 rows (identically in the
    oracle) — the redaction path is genuinely exercised, not an
    identity pass."""
    d = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" reach user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or 555-123-4567 ssn 123-45-6789"),
                ),
            ).otherwise(""),
        ),
    )
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+?[0-9][0-9()\- ]{7,}[0-9]"
    ssn = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", email, "<EMAIL>"), phone, "<PHONE>"
        ),
        ssn,
        "<SSN>",
    )
    return d.select(
        "doc_id",
        red.alias("redacted"),
        F.size(F.regexp_extract_all(red, F.lit("<EMAIL>|<PHONE>|<SSN>"), 0))
        .cast("bigint")
        .alias("n_redactions"),
    )


@query(
    "stratum_topk_sample",
    oracle="""
    SELECT lang, doc_id, rnk FROM (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('pick:' || CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      FROM documents) x
    WHERE rnk <= 5 ORDER BY lang, rnk
    """,
)
def stratum_topk_sample(spark, sf_dir):
    """Exactly-k-per-stratum sampling: 5 documents per language chosen
    by content-hash order — the deterministic replacement for
    per-group reservoir sampling (same marginal uniformity, but stable
    across reruns, partitionings, and engines). One window per stratum
    key; at scale k·strata rows survive, everything else dies at the
    map side of the window's rank filter."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    pick = F.md5(F.concat(F.lit("pick:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(pick, "doc_id")
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 5)
        .orderBy("lang", "rnk")
    )


@query(
    "udtf_token_positions",
    oracle="""
    SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos, t.tok AS token
    FROM (
      SELECT doc_id,
             unnest(list_transform(
               list_filter(string_split_regex(text, '\\s+'), x -> x <> ''),
               (x, i) -> struct_pack(tok := x, i := i))) AS t
      FROM documents)
    ORDER BY doc_id, pos
    """,
)
def udtf_token_positions(spark, sf_dir):
    """Python UDTF (Spark 4 user-defined TABLE function): one input
    row → many output rows with per-call Python state, invoked via
    LATERAL — here emitting (position, token) per document token.

    Honesty note on the hot path: a UDTF is row-at-a-time Python (the
    slow path by this repo's own rules); the JVM equivalent is
    ``posexplode(split(...))`` and THAT is what a production tokenizer
    uses. The UDTF is catalogued as API parity for the cases that
    genuinely need per-row Python with table output (a real BPE
    tokenizer, a parser emitting variable records) — the same escape
    hatch the reference's Transformer provides
    (/root/reference/transformation.go), generalized to 1→N rows. The
    oracle re-derives positions with DuckDB's (x, i) list lambda."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, token string")
    class TokenPositions:
        def eval(self, text: str):
            if text:
                pos = 0
                for tok in text.split():
                    yield pos, tok
                    pos += 1

    spark.udtf.register("lrmr_token_positions", TokenPositions)
    load(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM udtf_docs d, LATERAL lrmr_token_positions(d.text) t
        ORDER BY d.doc_id, t.pos
        """
    )


@query(
    "text_bpe_pair_counts",
    oracle="""
    WITH t AS (
      SELECT list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
      FROM documents),
    i AS (
      SELECT toks, unnest(range(1, len(toks))) AS i
      FROM t WHERE len(toks) >= 2)
    SELECT toks[i] AS tok_a, toks[i + 1] AS tok_b, count(*) AS n
    FROM i GROUP BY tok_a, tok_b
    ORDER BY n DESC, tok_a, tok_b LIMIT 50
    """,
)
def text_bpe_pair_counts(spark, sf_dir):
    """The BPE/WordPiece TRAINING step: corpus-wide adjacent-pair
    frequencies (the statistic each merge round of tokenizer training
    maximizes), top-50 with a deterministic tiebreak.

    Scale shape: pairs are built per document from two array slices
    zipped positionally — pure codegen'd projection, no window, no
    per-doc shuffle. The only exchange is the pair-count aggregation,
    which partial-aggregates map-side first (pair-id keys, bounded by
    vocabulary², in practice Zipf-concentrated), then
    TakeOrderedAndProject for the top-50 — a full tokenizer-training
    round at 100 TB is exactly this plan run to a higher limit."""
    d = load(spark, sf_dir, "documents")
    pairs = (
        d.select(TX.tokens("text").alias("toks"))
        .filter(F.size("toks") >= 2)
        .withColumn("heads", F.expr("slice(toks, 1, size(toks) - 1)"))
        .withColumn("tails", F.expr("slice(toks, 2, size(toks) - 1)"))
        .select(F.explode(F.arrays_zip("heads", "tails")).alias("pr"))
    )
    return (
        pairs.select(
            F.col("pr.heads").alias("tok_a"), F.col("pr.tails").alias("tok_b")
        )
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok_a", "tok_b")
        .limit(50)
    )


def _winnowing_oracle() -> str:
    """Mirror of operators.text.winnowing_fingerprints at k=3, w=4:
    per-window minima written as least() over explicit element indexes
    (out-of-range access is NULL and both engines' least/array_min
    skip what isn't there — identical clamping, no bracket slices)."""
    w = 4
    least_args = ", ".join(f"h[i + {j}]" for j in range(w))
    return f"""
    WITH g AS (
      SELECT doc_id,
             list_transform({grams_expr("toks", 3)},
                            x -> substr(md5('w:' || x), 1, 8)) AS h
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
            FROM documents) raw
    ), sel AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_transform(range(1, greatest(len(h) - {w} + 1, 1) + 1),
                              i -> least({least_args})))) AS fps
      FROM g
    )
    SELECT doc_id, unnest(fps) AS fp FROM sel
    """


@query("text_winnowing_fingerprints", oracle=_winnowing_oracle)
def text_winnowing_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03) as corpus
    postings: every doc's selected k-gram window-minima as (doc_id,
    fp) rows — the inverted-index feed for substring-dup / plagiarism
    detection (docs sharing any fp share a run of ≥ w+k−1 tokens).
    Computed by winnowing_postings' posexplode + sliding window-min
    plan: each gram hashed once, one doc-keyed exchange — replacing
    the r4 nested-HOF Column form whose per-window subtree re-eval
    was O(n²) per doc (measured 224 s → ~3 s at sf0.1; the Column
    form remains for per-row composition, same selected set
    bit-for-bit)."""
    d = load(spark, sf_dir, "documents")
    return TX.winnowing_postings(d, "doc_id", "text").select(
        F.col("_id").alias("doc_id"), "fp"
    )


def _winnowing_matches_oracle() -> str:
    """The _winnowing_oracle selection extended by the match join:
    postings self-join on fingerprint, pair counts, ≥ min_shared."""
    w = 4
    least_args = ", ".join(f"h[i + {j}]" for j in range(w))
    return f"""
    WITH g AS (
      SELECT doc_id,
             list_transform({grams_expr("toks", 3)},
                            x -> substr(md5('w:' || x), 1, 8)) AS h
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
            FROM documents) raw
    ), sel AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_transform(range(1, greatest(len(h) - {w} + 1, 1) + 1),
                              i -> least({least_args})))) AS fps
      FROM g
    ), post AS (
      SELECT doc_id, unnest(fps) AS fp FROM sel
    )
    SELECT l.doc_id AS id_a, r.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM post l JOIN post r ON l.fp = r.fp AND l.doc_id < r.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 3
    ORDER BY id_a, id_b
    """


def _winnowing_matches_capped_oracle() -> str:
    """_winnowing_matches_oracle with the MOSS boilerplate guard: drop
    fingerprints whose document frequency exceeds 8 before pairing."""
    w = 4
    least_args = ", ".join(f"h[i + {j}]" for j in range(w))
    return f"""
    WITH g AS (
      SELECT doc_id,
             list_transform({grams_expr("toks", 3)},
                            x -> substr(md5('w:' || x), 1, 8)) AS h
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
            FROM documents) raw
    ), sel AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_transform(range(1, greatest(len(h) - {w} + 1, 1) + 1),
                              i -> least({least_args})))) AS fps
      FROM g
    ), post AS (
      SELECT doc_id, unnest(fps) AS fp FROM sel
    ), kept AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM post
      ) WHERE df <= 8
    )
    SELECT l.doc_id AS id_a, r.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM kept l JOIN kept r ON l.fp = r.fp AND l.doc_id < r.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 3
    ORDER BY id_a, id_b
    """


@query("text_winnowing_matches_capped", oracle=_winnowing_matches_capped_oracle)
def text_winnowing_matches_capped(spark, sf_dir):
    """The winnowing match join under the MOSS boilerplate guard
    (max_df = 8): fingerprints shared by more than 8 documents are
    dropped before the pair join. This is the production configuration
    for duplicated/template-heavy corpora — the uncapped entry's
    output is quadratic in duplication factor (measured 72,000× pairs
    at 10× salted data, BENCH_r5_newops.json), and the df cap removes
    exactly the mass-duplicated clusters' fanout while keeping the
    low-df fingerprints genuine plagiarism pairs share. Same inverted-
    index plan plus one fp-keyed window for df."""
    return TX.winnowing_matches(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        min_shared=3, max_df=8,
    ).orderBy("id_a", "id_b")


def _winnowing_index_oracle() -> str:
    """The _winnowing_oracle postings split into stored (even doc_ids,
    df-capped at 8 over the stored side only — the matcher's read-time
    MOSS guard) and batch (odd doc_ids), joined on fingerprint."""
    return _winnowing_index_oracle_for("doc_id % 2 = 0")


def _winnowing_index_oracle_for(stored_pred: str) -> str:
    """_winnowing_index_oracle parameterized on the stored-side
    predicate — shared by the base lifecycle row and the
    delete-to-empty row (whose final stored state is a different doc
    subset)."""
    w = 4
    least_args = ", ".join(f"h[i + {j}]" for j in range(w))
    return f"""
    WITH g AS (
      SELECT doc_id,
             list_transform({grams_expr("toks", 3)},
                            x -> substr(md5('w:' || x), 1, 8)) AS h
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents) raw
    ), sel AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_transform(range(1, greatest(len(h) - {w} + 1, 1) + 1),
                              i -> least({least_args})))) AS fps
      FROM g
    ), post AS (
      SELECT doc_id, unnest(fps) AS fp FROM sel
    ), stored AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df
        FROM post WHERE {stored_pred}
      ) WHERE df <= 8
    ), batch AS (
      SELECT doc_id, fp FROM post WHERE doc_id % 2 = 1
    )
    SELECT b.doc_id AS new_id, s.doc_id AS base_id,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM batch b JOIN stored s USING (fp)
    GROUP BY 1, 2 HAVING count(*) >= 2
    ORDER BY new_id, base_id
    """


@query("text_winnowing_index", oracle=_winnowing_index_oracle)
def text_winnowing_index(spark, sf_dir):
    """The STORED winnowing-index lifecycle (write → append → match) —
    the persisted MOSS-style decontamination service the fingerprint
    family was missing (MinHash, line-dedup, and phash each already
    have one): yesterday's corpus (even doc_ids, landed as TWO index
    epochs — doc_id % 4 = 0 then % 4 = 2, so the multi-epoch read
    path is inside the gated query) becomes the fingerprint postings
    index; today's submissions (odd doc_ids) are matched against it
    at min_shared = 2 under the recorded max_df = 8 read-time
    cap. The oracle recomputes both sides from scratch over the same
    md5-8 window-minima, so the row is red if the epoch write, the
    postings dedupe, the df cap, or the (k, w) convention drifts.
    Append ≡ rebuild and compaction invariance are asserted in
    tests/test_operators.py; streaming twin:
    streaming_winnowing_index_match."""
    import os
    import tempfile

    d = load(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_winidx_{tag}")
    TX.write_winnowing_index(
        d.filter(F.col("doc_id") % 4 == 0), path, "doc_id", "text", epoch=0
    )
    TX.write_winnowing_index(
        d.filter(F.col("doc_id") % 4 == 2), path, "doc_id", "text", epoch=1
    )
    return TX.match_winnowing_index(
        d.filter(F.col("doc_id") % 2 == 1), path, "doc_id", "text",
        min_shared=2,
    ).orderBy("new_id", "base_id")


@query(
    "text_winnowing_index_compacted",
    # _ORACLES holds the oracle FUNCTION here (unlike the line-dedup
    # twin, whose shared oracle is a plain string) — call it
    oracle=lambda: _ORACLES["text_winnowing_index"](),
)
def text_winnowing_index_compacted(spark, sf_dir):
    """The winnowing-index MAINTENANCE row: write the two-epoch
    index, COMPACT it (fold epochs into one — operators/text.py
    compact_winnowing_index), then match the odd-doc batch. SHARES
    text_winnowing_index's oracle verbatim: compaction must change no
    answer — a lost posting, a double-fold under a leaked dynamic
    overwrite mode, or a parameter drift through the commit
    turns this row red."""
    import os
    import tempfile

    d = load(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_winidx_c_{tag}")
    TX.write_winnowing_index(
        d.filter(F.col("doc_id") % 4 == 0), path, "doc_id", "text", epoch=0
    )
    TX.write_winnowing_index(
        d.filter(F.col("doc_id") % 4 == 2), path, "doc_id", "text", epoch=1
    )
    n = TX.compact_winnowing_index(spark, path)
    if n != 2:
        raise AssertionError(f"expected to fold 2 epochs, folded {n}")
    return TX.match_winnowing_index(
        d.filter(F.col("doc_id") % 2 == 1), path, "doc_id", "text",
        min_shared=2,
    ).orderBy("new_id", "base_id")


def _winnowing_index_delete_oracle() -> str:
    """_winnowing_index_oracle with the takedown applied: stored side
    = even doc_ids MINUS the multiples of 6, df-capped post-delete."""
    w = 4
    least_args = ", ".join(f"h[i + {j}]" for j in range(w))
    return f"""
    WITH g AS (
      SELECT doc_id,
             list_transform({grams_expr("toks", 3)},
                            x -> substr(md5('w:' || x), 1, 8)) AS h
      FROM (SELECT doc_id, {_TOKS} AS toks FROM documents) raw
    ), sel AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_transform(range(1, greatest(len(h) - {w} + 1, 1) + 1),
                              i -> least({least_args})))) AS fps
      FROM g
    ), post AS (
      SELECT doc_id, unnest(fps) AS fp FROM sel
    ), stored AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df
        FROM post WHERE doc_id % 2 = 0 AND doc_id % 6 <> 0
      ) WHERE df <= 8
    ), batch AS (
      SELECT doc_id, fp FROM post WHERE doc_id % 2 = 1
    )
    SELECT b.doc_id AS new_id, s.doc_id AS base_id,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM batch b JOIN stored s USING (fp)
    GROUP BY 1, 2 HAVING count(*) >= 2
    ORDER BY new_id, base_id
    """


@query("text_winnowing_index_delete", oracle=_winnowing_index_delete_oracle)
def text_winnowing_index_delete(spark, sf_dir):
    """The winnowing-index TAKEDOWN row, completing its CRUD (write →
    append → match → compact → DELETE): the two-epoch even-doc index
    has the multiple-of-6 documents removed by id — a takedown batch
    spanning BOTH epochs, so the affected-partition-only rewrite is
    inside the gated query — then the odd-doc batch is matched. The
    oracle rebuilds the post-delete index from scratch (stored
    postings minus those documents, df-cap applied post-delete — a
    delete that forgets to re-open capped fingerprints whose df
    dropped back under max_df turns this row red, exactly the subtle
    bug the read-time cap design prevents). Double-delete-0
    idempotence asserted inline; delete ≡ rebuild-without pytested."""
    import os
    import tempfile

    d = load(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_winidx_d_{tag}")
    TX.write_winnowing_index(
        d.filter(F.col("doc_id") % 4 == 0), path, "doc_id", "text", epoch=0
    )
    TX.write_winnowing_index(
        d.filter(F.col("doc_id") % 4 == 2), path, "doc_id", "text", epoch=1
    )
    # the takedown batch: a bounded removal list, as in production
    ids = [
        r["doc_id"]
        for r in d.filter(F.col("doc_id") % 6 == 0).select("doc_id").collect()
    ]
    TX.delete_winnowing_index_ids(spark, path, ids)
    if TX.delete_winnowing_index_ids(spark, path, ids) != 0:
        raise AssertionError("winnowing id delete is not idempotent")
    return TX.match_winnowing_index(
        d.filter(F.col("doc_id") % 2 == 1), path, "doc_id", "text",
        min_shared=2,
    ).orderBy("new_id", "base_id")


@query(
    "text_winnowing_index_empty_delete",
    oracle=lambda: _winnowing_index_oracle_for("doc_id % 4 = 2"),
)
def text_winnowing_index_empty_delete(spark, sf_dir):
    """The VALIDLY-EMPTY index lifecycle: write one epoch, take down
    EVERY document in it (the full-corpus takedown — a GDPR purge or
    a poisoned-crawl rollback), then REVIVE the index by appending a
    fresh epoch and match against it. An emptied index keeps postings
    and df with no segments, so the
    intermediate state is queryable, the parameter-drift guard still
    applies across the gap, and the revival append rebuilds the df
    side table from scratch — the oracle's stored side is EXACTLY the
    revived epoch's documents, so a leaked pre-delete posting, a lost
    param, or a stale df ban turns this row red. Fresh temp dir
    per run (the lifecycle's emptied state is the point; a reused dir
    would take the replay shortcut instead)."""
    import os
    import tempfile
    import uuid

    d = load(spark, sf_dir, "documents")
    run = uuid.uuid4().hex[:8]
    path = os.path.join(tempfile.gettempdir(), f"lrmr_winidx_e_{run}")
    TX.write_winnowing_index(
        d.filter(F.col("doc_id") % 4 == 0), path, "doc_id", "text", epoch=0
    )
    ids = [
        r["doc_id"]
        for r in d.filter(F.col("doc_id") % 4 == 0).select("doc_id").collect()
    ]
    if TX.delete_winnowing_index_ids(spark, path, ids) <= 0:
        raise AssertionError("full takedown removed nothing")
    if TX.delete_winnowing_index_ids(spark, path, ids) != 0:
        raise AssertionError("empty-index delete is not a no-op")
    TX.write_winnowing_index(
        d.filter(F.col("doc_id") % 4 == 2), path, "doc_id", "text", epoch=1
    )
    return TX.match_winnowing_index(
        d.filter(F.col("doc_id") % 2 == 1), path, "doc_id", "text",
        min_shared=2,
    ).orderBy("new_id", "base_id")


@query("text_winnowing_matches", oracle=_winnowing_matches_oracle)
def text_winnowing_matches(spark, sf_dir):
    """Winnowing MATCH pairs — the consumer the fingerprints exist for
    (Schleimer et al. SIGMOD'03, the MOSS ranking): document pairs
    sharing ≥ 3 winnowed window-minima, i.e. pairs with substantial
    verbatim token runs (the guarantee: every shared run of ≥ w+k−1 =
    6 tokens surfaces at least one shared fingerprint). Catches the
    substring-reuse that whole-document dedup misses.

    Plan: the inverted-index join shape (cross_doc_ngram_exposure's
    plan) — per-doc selection arrays built in pure JVM transforms,
    exploded to (doc_id, 8-hex-char fp) postings, self-joined on fp,
    counted per pair. Document bodies never shuffle; per-fp fanout is
    df² with df bounded by content entropy (operator exposes max_df,
    MOSS's boilerplate guard, for template-heavy corpora — unset here
    so the oracle states the exact unpruned semantics)."""
    return TX.winnowing_matches(
        load(spark, sf_dir, "documents"), "doc_id", "text", min_shared=3
    ).orderBy("id_a", "id_b")


def _dup_spans_oracle(n: int = 5) -> str:
    """Mirror of operators.text.dup_token_spans at n=5: grams via
    grams_expr (same ' ' join), the same 's:'-prefixed md5-16 keys,
    duplication = corpus-wide count ≥ 2, islands via the identical
    lag/running-sum merge (gap ≤ n). Docs shorter than n tokens are
    excluded on both sides (they cannot hold a full n-gram)."""
    return f"""
    WITH tokd AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), g AS (
      SELECT doc_id,
             list_transform({grams_expr("toks", n)},
                            x -> substr(md5('s:' || x), 1, 16)) AS hs
      FROM tokd WHERE len(toks) >= {n}
    ), pos AS (
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, hs[i] AS h
      FROM g, unnest(range(1, len(hs) + 1)) AS t(i)
    ), dup AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt FROM pos
      ) WHERE cnt >= 2
    ), brk AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {n} THEN 0 ELSE 1 END AS b
      FROM dup
    ), grp AS (
      SELECT doc_id, pos,
             sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS gid
      FROM brk
    )
    SELECT doc_id, CAST(min(pos) AS INTEGER) AS start,
           CAST(max(pos) - min(pos) + {n} AS INTEGER) AS length
    FROM grp GROUP BY doc_id, gid
    ORDER BY doc_id, start
    """


@query("text_dup_token_spans", oracle=_dup_spans_oracle)
def text_dup_token_spans(spark, sf_dir):
    """EXACT duplicated-substring spans (Lee et al. ACL'22 substring
    dedup): per document, the maximal token intervals covered by
    5-token grams occurring ≥ 2 times corpus-wide — the cut list a
    training-data pipeline feeds back into the corpus (winnowing
    matches say WHICH docs share text; this says WHERE to cut).
    Postings-based plan — posexplode + lead-window grams (each token
    read once), one gram-keyed count exchange, doc-keyed
    gaps-and-islands merge; output LINEAR in corpus size (no pair
    join, so template grams need no df cap). Oracle mirrors grams,
    hash keys, the ≥2 count and the gap-≤ n interval merge."""
    return TX.dup_token_spans(
        load(spark, sf_dir, "documents"), "doc_id", "text", n=5
    ).orderBy("doc_id", "start")


def _dup_span_removal_oracle(n: int = 5) -> str:
    """Mirror of operators.text.dup_span_removal at n=5: the
    _dup_spans_oracle duplication marking (same 's:'-md5-16 gram keys,
    corpus-wide count ≥ 2), coverage via the identical
    n−1-PRECEDING rows window over the contiguous position stream, and
    the kept tokens re-joined in position order (string_agg ignores
    the NULLed removed positions, exactly as collect_list does)."""
    return f"""
    WITH raw AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), tokp AS (
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS t
      FROM raw, unnest(range(1, len(toks) + 1)) AS r(i)
    ), g AS (
      SELECT doc_id,
             list_transform({grams_expr("toks", n)},
                            x -> substr(md5('s:' || x), 1, 16)) AS hs
      FROM raw WHERE len(toks) >= {n}
    ), pos AS (
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, hs[i] AS h
      FROM g, unnest(range(1, len(hs) + 1)) AS t(i)
    ), dup AS (
      SELECT doc_id, pos, 1 AS isdup FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt FROM pos
      ) WHERE cnt >= 2
    ), f AS (
      SELECT tk.doc_id, tk.pos, tk.t, coalesce(d.isdup, 0) AS isdup
      FROM tokp tk LEFT JOIN dup d USING (doc_id, pos)
    ), cov AS (
      SELECT doc_id, pos, t,
             max(isdup) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN {n - 1} PRECEDING
                              AND CURRENT ROW) AS c
      FROM f
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(c) AS BIGINT) AS n_removed,
           coalesce(string_agg(CASE WHEN c = 0 THEN t END, ' '
                               ORDER BY pos), '') AS clean_text
    FROM cov GROUP BY doc_id ORDER BY doc_id
    """


def _decon_span_removal_oracle(n: int = 4) -> str:
    """Mirror of operators.text.decontaminate_span_removal at n=4 over
    the doc_id%50 eval split: same 'd:'-md5-16 gram keys, a gram is
    contaminated iff max(is_eval) over its key is 1, coverage and
    rebuild identical to _dup_span_removal_oracle."""
    return f"""
    WITH raw AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), tokp AS (
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS t
      FROM raw, unnest(range(1, len(toks) + 1)) AS r(i)
      WHERE doc_id % 50 <> 0
    ), g AS (
      SELECT doc_id,
             list_transform({grams_expr("toks", n)},
                            x -> substr(md5('d:' || x), 1, 16)) AS hs
      FROM raw WHERE len(toks) >= {n}
    ), pos AS (
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, hs[i] AS h
      FROM g, unnest(range(1, len(hs) + 1)) AS t(i)
    ), mk AS (
      SELECT doc_id, pos, 1 AS isdup FROM (
        SELECT doc_id, pos,
               CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END AS is_ev,
               max(CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY h) AS anyev
        FROM pos
      ) WHERE anyev = 1 AND is_ev = 0
    ), f AS (
      SELECT tk.doc_id, tk.pos, tk.t, coalesce(m.isdup, 0) AS isdup
      FROM tokp tk LEFT JOIN mk m USING (doc_id, pos)
    ), cov AS (
      SELECT doc_id, pos, t,
             max(isdup) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN {n - 1} PRECEDING
                              AND CURRENT ROW) AS c
      FROM f
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(c) AS BIGINT) AS n_removed,
           coalesce(string_agg(CASE WHEN c = 0 THEN t END, ' '
                               ORDER BY pos), '') AS clean_text
    FROM cov GROUP BY doc_id ORDER BY doc_id
    """


@query("decontaminate_span_removal", oracle=_decon_span_removal_oracle)
def decontaminate_span_removal(spark, sf_dir):
    """Benchmark decontamination APPLIED (GPT-3 §B apply-step): every
    token of a TRAINING document covered by a 4-gram that appears
    anywhere in the eval set (doc_id%50 stands in for the benchmark
    suite, as in decontaminate_ngram_overlap) is cut and the remainder
    re-joined — per-doc accounting plus the decontaminated corpus,
    training docs only. Single-pass: the eval gram set never
    materializes (window-max over the gram key marks train positions
    directly — the formulation the audit entry measured ~2× faster);
    coverage + rebuild share `_removal_rebuild` with
    text_dup_span_removal, so the two removal semantics cannot drift.
    Linear plan: one gram exchange of (id, pos, hash, flag), one
    doc-keyed rebuild exchange."""
    d = load(spark, sf_dir, "documents").withColumn(
        "_is_eval", F.col("doc_id") % 50 == 0
    )
    return TX.decontaminate_span_removal(
        d, "doc_id", "text", "_is_eval", n=4
    ).orderBy("doc_id")


@query("text_dup_span_removal", oracle=_dup_span_removal_oracle)
def text_dup_span_removal(spark, sf_dir):
    """Substring-dedup APPLIED (Lee et al. ACL'22, the removal half):
    every token covered by a corpus-duplicated 5-gram is cut and the
    surviving tokens re-joined — the entry emits the cleaned corpus
    plus per-doc removal accounting (n_tokens, n_removed, clean_text).
    text_dup_token_spans is the audit view of the same coverage; this
    is the curation step that feeds training. Linear plan (no pair
    join): one gram-keyed count exchange + one doc-keyed rebuild
    exchange; the oracle mirrors gram keys, the ≥2 count, the
    rows-window coverage and the position-ordered rejoin."""
    return TX.dup_span_removal(
        load(spark, sf_dir, "documents"), "doc_id", "text", n=5
    ).orderBy("doc_id")


@query(
    "text_line_dedup",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM raw WHERE len(toks) > 0),
    segs AS (
      SELECT doc_id, s AS seg_idx,
             array_to_string(toks[s * 10 + 1 : (s + 1) * 10], ' ') AS seg
      FROM sized, UNNEST(range(0, CAST(ceil(n / 10.0) AS BIGINT))) AS t(s)),
    freq AS (
      SELECT doc_id, seg_idx, seg,
             count(*) OVER (PARTITION BY seg) AS df
      FROM segs)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           coalesce(array_to_string(
             list(seg ORDER BY seg_idx) FILTER (WHERE df < 2), ' '), '')
             AS text_out
    FROM freq GROUP BY doc_id
    """,
)
def text_line_dedup(spark, sf_dir):
    """CCNet / RefinedWeb line-level deduplication with document
    rebuild: drop every 10-token segment ("line" — the corpus has no
    newlines, so fixed windows stand in for the line segmenter) whose
    exact text occurs ≥ 2 times corpus-wide, then reassemble each
    document from its surviving segments. This is the curation step
    between exact whole-doc dedup (dedup_exact — misses partial
    boilerplate) and span cutting (text_dup_span_removal — positional
    n-gram runs): corpus-FREQUENCY line removal kills headers, nav
    chrome and license blocks everywhere at once. Output: (doc_id,
    n_segs, n_dropped, text_out).

    Two exchanges (segment-keyed frequency window, doc-keyed rebuild);
    documents travel segment-sharded, never whole — see
    operators/text.py line_dedup_rebuild for the 100 TB shape."""
    d = load(spark, sf_dir, "documents")
    return TX.line_dedup_rebuild(d, "doc_id", "text", width=10, min_df=2)


@query(
    "text_line_dedup_index",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM raw WHERE len(toks) > 0),
    segs AS (
      SELECT doc_id, seg_idx, seg, substr(md5('ld:' || seg), 1, 16) AS h
      FROM (
        SELECT doc_id, s AS seg_idx,
               array_to_string(toks[s * 10 + 1 : (s + 1) * 10], ' ') AS seg
        FROM sized, UNNEST(range(0, CAST(ceil(n / 10.0) AS BIGINT))) AS t(s))),
    stored AS (
      SELECT h, count(*) AS sdf FROM segs WHERE doc_id % 2 = 0 GROUP BY h),
    batch AS (SELECT * FROM segs WHERE doc_id % 2 = 1),
    freq AS (
      SELECT b.doc_id, b.seg_idx, b.seg,
             count(*) OVER (PARTITION BY b.h) + coalesce(s.sdf, 0) AS tdf
      FROM batch b LEFT JOIN stored s USING (h))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(sum(CASE WHEN tdf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           coalesce(array_to_string(
             list(seg ORDER BY seg_idx) FILTER (WHERE tdf < 2), ' '), '')
             AS text_out
    FROM freq GROUP BY doc_id
    """,
)
def text_line_dedup_index(spark, sf_dir):
    """The STORED-index line-dedup lifecycle (write → append → clean):
    yesterday's corpus (even doc_ids, landed as TWO index epochs —
    doc_id % 4 = 0 then % 4 = 2, so the multi-epoch sum path is inside
    the gated query) becomes the segment-frequency index; today's
    crawl (odd doc_ids) is cleaned against stored + within-batch
    frequencies. The oracle recomputes both frequency sources from
    scratch over the same md5-16 segment keys, so the row is red if
    the epoch write, the epoch sum, the hash convention, or the join
    drifts. The index stores ONLY (hash, count) — segment text never
    persists, the privacy posture a shared boilerplate index wants.
    Streaming twin: streaming_line_dedup (prefix-causal per epoch);
    index convergence append ≡ one-shot is asserted in
    tests/test_streaming.py."""
    import os
    import tempfile

    d = load(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_lineidx_{tag}")
    TX.write_line_index(
        d.filter(F.col("doc_id") % 4 == 0), path, "doc_id", "text",
        width=10, epoch=0,
    )
    TX.write_line_index(
        d.filter(F.col("doc_id") % 4 == 2), path, "doc_id", "text",
        width=10, epoch=1,
    )
    return TX.line_dedup_with_index(
        d.filter(F.col("doc_id") % 2 == 1), path, "doc_id", "text", min_df=2
    )


@query(
    "text_line_dedup_compacted",
    oracle=lambda: _ORACLES["text_line_dedup_index"],
)
def text_line_dedup_compacted(spark, sf_dir):
    """The index MAINTENANCE row: write the two-epoch index, COMPACT
    it (fold epochs into one — operators/text.py compact_line_index),
    then clean the odd-doc batch. SHARES text_line_dedup_index's
    oracle verbatim: compaction must change no answer — a lost count,
    a double-fold, or a width drift through the commit turns
    this row red. Completes the stored line-index lifecycle: write →
    append (epochs) → COMPACT → clean, with the streaming twin
    (streaming_line_dedup) covering the live-append path."""
    import os
    import tempfile

    d = load(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_lineidx_c_{tag}")
    TX.write_line_index(
        d.filter(F.col("doc_id") % 4 == 0), path, "doc_id", "text",
        width=10, epoch=0,
    )
    TX.write_line_index(
        d.filter(F.col("doc_id") % 4 == 2), path, "doc_id", "text",
        width=10, epoch=1,
    )
    n = TX.compact_line_index(spark, path)
    if n != 2:
        raise AssertionError(f"expected to fold 2 epochs, folded {n}")
    return TX.line_dedup_with_index(
        d.filter(F.col("doc_id") % 2 == 1), path, "doc_id", "text", min_df=2
    )


@query(
    "text_heavy_hitters",
    oracle=f"""
    WITH toks AS (SELECT unnest({_TOKS}) AS t FROM documents),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks),
    c AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt
          FROM toks GROUP BY t)
    SELECT t AS token, cnt FROM c, tot WHERE cnt > n // 256
    ORDER BY cnt DESC, token ASC
    """,
)
def text_heavy_hitters(spark, sf_dir):
    """Exact corpus heavy hitters (tokens with count > N/256) through
    the two-pass Misra–Gries plan: per-partition k-counter sketches
    (Arrow mapInPandas, zero shuffle) surface a bounded candidate set;
    an exact candidate-only recount applies the true threshold. The
    oracle is the naive full groupBy — the ALGORITHM avoids exactly
    that shuffle at scale (one row per (partition, distinct token) vs
    ≤ k·P candidates + the filtered recount), while the two-pass
    guarantee makes the OUTPUT identical to it. The mergeable-sketch
    family member for frequencies, next to sketch_distinct_mincount
    (cardinality) and streaming_mincount_sketch; MG recall guarantee
    property-tested against adversarial partitionings in
    tests/test_operators.py."""
    d = load(spark, sf_dir, "documents")
    return TX.heavy_hitters_exact(d, "text", k=256)
