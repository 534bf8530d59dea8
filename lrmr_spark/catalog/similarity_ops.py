"""Similarity-search catalog entries over the embeddings table.

The query vector is the embedding of vec_id=0, read at oracle-build
time and inlined as literals on both sides so the two engines compute
the exact same arithmetic (double accumulation, round to 6).
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import functions as F

from ..operators import similarity as SIM
from ..sources import parallelize
from ..tables import load
from . import query
from .oracle_util import grams_expr

_SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@lru_cache(maxsize=None)
def _query_vec(sf_dir: str = _SF_ORACLE) -> tuple[float, ...]:
    """The designated query vector (vec_id=0), as float64 literals."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    for vid, emb in zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist()):
        if vid == 0:
            return tuple(float(x) for x in emb)
    raise ValueError("vec_id=0 not found")


def _vec_sql_literal(vec: tuple[float, ...]) -> str:
    return "[" + ", ".join(repr(x) for x in vec) + "]::DOUBLE[]"


def _dot_sql(a: str, b: str) -> str:
    """Sequential left-to-right double accumulation — same association
    order as the Spark-side F.aggregate, so results are bit-comparable
    before rounding."""
    return (
        f"list_reduce(list_prepend(0.0, "
        f"list_transform(range(1, 65), i -> CAST(({a})[i] AS DOUBLE) * CAST(({b})[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def _ann_topk_oracle() -> str:
    q = _vec_sql_literal(_query_vec())
    dot = _dot_sql("e.embedding", "q.qv")
    norm_e = f"sqrt({_dot_sql('e.embedding', 'e.embedding')})"
    norm_q = f"sqrt({_dot_sql('q.qv', 'q.qv')})"
    return f"""
    WITH q AS (SELECT {q} AS qv)
    SELECT e.vec_id, round({dot} / ({norm_e} * {norm_q}), 6) AS score
    FROM embeddings e, q
    ORDER BY score DESC, e.vec_id ASC
    LIMIT 10
    """


@query("ann_cosine_topk", oracle=_ann_topk_oracle)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 for the query vector — the exact ANN
    baseline. JVM-side zip_with/aggregate arithmetic; per-partition
    top-k then driver merge (TakeOrderedAndProject): linear,
    broadcast-query, no shuffle."""
    return SIM.cosine_topk(
        load(spark, sf_dir, "embeddings"), list(_query_vec()), k=10
    )


def _lsh_bucket_oracle() -> str:
    planes = SIM.hyperplanes(8, 64)
    bits = []
    for row in planes:
        w = "[" + ", ".join(repr(x) for x in row) + "]::DOUBLE[]"
        bits.append(
            f"CASE WHEN {_dot_sql('e.embedding', w)} > 0 THEN '1' ELSE '0' END"
        )
    concat = " || ".join(bits)
    return f"""
    SELECT e.vec_id, {concat} AS bucket
    FROM embeddings e
    """


@query("ann_lsh_buckets", oracle=_lsh_bucket_oracle)
def ann_lsh_buckets(spark, sf_dir):
    """Random-hyperplane LSH bucket assignment (8 deterministic
    md5-derived planes) — the scale path: precompute/partition by
    bucket so a query probes 1/256 of the corpus. The oracle recomputes
    the identical planes and projections in SQL."""
    planes = SIM.hyperplanes(8, 64)
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", SIM.lsh_bucket(F.col("embedding"), planes).alias("bucket")
    )


def _query_bits(num_planes: int = 8) -> str:
    """LSH bucket of the query vector, computed driver-side (sequential
    left-to-right accumulation — same association order as the Spark
    aggregate and the DuckDB list_reduce)."""
    planes = SIM.hyperplanes(num_planes, 64)
    q = _query_vec()
    return "".join(
        "1" if sum(w * x for w, x in zip(row, q)) > 0 else "0" for row in planes
    )


def ann_pruned_df(spark, sf_dir):
    """Build (and if needed materialize) the partitioned-by-bucket ANN
    layout, then run the bucket-pruned top-k; shared with the plan test."""
    import os as _os

    path = _os.path.join(
        "/root/repo/.scratch", "ann_buckets_" + _os.path.basename(sf_dir.rstrip("/"))
    )
    planes = SIM.hyperplanes(8, 64)
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        emb = load(spark, sf_dir, "embeddings")
        # 'b' prefix keeps the partition value a string (bare bit strings
        # would be type-inferred as integers on read-back)
        bucketed = emb.select(
            "vec_id",
            "embedding",
            F.concat(F.lit("b"), SIM.lsh_bucket(F.col("embedding"), planes)).alias(
                "bucket"
            ),
        )
        bucketed.write.mode("overwrite").partitionBy("bucket").parquet(path)
    back = spark.read.parquet(path)
    q = F.array(*[F.lit(float(x)) for x in _query_vec()])
    return (
        back.filter(F.col("bucket") == "b" + _query_bits())
        .select(F.col("vec_id"), F.round(SIM.cosine(F.col("embedding"), q), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


def _lsh_pruned_oracle() -> str:
    planes = SIM.hyperplanes(8, 64)
    bits = []
    for row in planes:
        w = "[" + ", ".join(repr(x) for x in row) + "]::DOUBLE[]"
        bits.append(f"CASE WHEN {_dot_sql('e.embedding', w)} > 0 THEN '1' ELSE '0' END")
    concat = " || ".join(bits)
    qv = _vec_sql_literal(_query_vec())
    dot = _dot_sql("b.embedding", "q.qv")
    norm_e = f"sqrt({_dot_sql('b.embedding', 'b.embedding')})"
    norm_q = f"sqrt({_dot_sql('q.qv', 'q.qv')})"
    return f"""
    WITH q AS (SELECT {qv} AS qv),
    b AS (SELECT e.vec_id, e.embedding, {concat} AS bucket FROM embeddings e)
    SELECT b.vec_id, round({dot} / ({norm_e} * {norm_q}), 6) AS score
    FROM b, q
    WHERE b.bucket = '{_query_bits()}'
    ORDER BY score DESC, b.vec_id ASC
    LIMIT 10
    """


@query("ann_lsh_pruned_topk", oracle=_lsh_pruned_oracle)
def ann_lsh_pruned_topk(spark, sf_dir):
    """The LSH bucket as a PHYSICAL layout: embeddings materialized
    partitioned-by-bucket, then the query's top-k scans only its
    bucket's partition directory — partition pruning does the candidate
    selection (plan-pinned: PartitionFilters on bucket, 1/256 of files
    read). This is lsh_topk's documented 100 TB form made real: the
    write pays the bucketing once; every query after reads one
    partition. Oracle recomputes bucket assignment + re-rank in SQL."""
    return ann_pruned_df(spark, sf_dir)


@lru_cache(maxsize=None)
def _centroids(sf_dir: str = _SF_ORACLE) -> tuple[tuple[float, ...], ...]:
    """Deterministic IVF 'centroids': embeddings of vec_id 1..8 from the
    oracle SF — fixed model parameters, like the query vector. (A real
    index trains them with k-means; the plumbing is identical.)"""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    by_id = dict(zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist()))
    return tuple(tuple(float(x) for x in by_id[i]) for i in range(1, 9))


def _ivf_oracle() -> str:
    import math

    cents = _centroids()
    q = _query_vec()

    def py_cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return d / n if n else float("-inf")  # zero-norm ranks last, never raises

    order = sorted(range(len(cents)), key=lambda i: -py_cos(cents[i], q))
    probes = order[:2]
    score_cols = []
    for i, c in enumerate(cents):
        cc = "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"
        dot = _dot_sql("e.embedding", cc)
        nrm = f"sqrt({_dot_sql('e.embedding', 'e.embedding')}) * sqrt({_dot_sql(cc, cc)})"
        score_cols.append(f"{dot} / ({nrm}) AS s{i}")
    n = len(cents)
    gmax = "greatest(" + ", ".join(f"s{i}" for i in range(n)) + ")"
    # first index reaching the max — matches the operator's strict->
    # update loop
    idx_case = (
        "CASE "
        + " ".join(f"WHEN s{i} >= {gmax} THEN {i}" for i in range(n))
        + " END"
    )
    qv = _vec_sql_literal(_query_vec())
    qdot = _dot_sql("e.embedding", "q.qv")
    qn = f"sqrt({_dot_sql('e.embedding', 'e.embedding')}) * sqrt({_dot_sql('q.qv', 'q.qv')})"
    return f"""
    WITH q AS (SELECT {qv} AS qv),
    scored AS (
      SELECT e.vec_id, {", ".join(score_cols)},
             round({qdot} / ({qn}), 6) AS score
      FROM embeddings e, q
    ),
    assigned AS (SELECT vec_id, score, {idx_case} AS part FROM scored)
    SELECT vec_id, score FROM assigned
    WHERE part IN ({", ".join(str(p) for p in probes)})
    ORDER BY score DESC, vec_id ASC LIMIT 10
    """


@query("ann_ivf_topk", oracle=_ivf_oracle)
def ann_ivf_topk(spark, sf_dir):
    """IVF ANN top-10 (coarse quantizer + n_probe=2): scores only the
    vectors assigned to the two centroids nearest the query — at scale
    the assignment is a partition column, so the scan touches
    n_probe/n_centroids of the corpus. Oracle recomputes assignment,
    probe selection, and re-rank in SQL from the same centroid
    literals."""
    return SIM.ivf_topk(
        load(spark, sf_dir, "embeddings"),
        list(_query_vec()),
        [list(c) for c in _centroids()],
        k=10,
        n_probe=2,
    )


def ann_ivf_pruned_df(spark, sf_dir):
    """Materialize the IVF assignment as a partition column and run the
    probe-pruned top-k; shared with the plan test."""
    import math
    import os as _os

    path = _os.path.join(
        "/root/repo/.scratch", "ann_ivf_" + _os.path.basename(sf_dir.rstrip("/"))
    )
    cents = [list(c) for c in _centroids()]
    if not _os.path.exists(_os.path.join(path, "_SUCCESS")):
        emb = load(spark, sf_dir, "embeddings")
        assigned = emb.withColumn(
            "part", SIM.ivf_assign("embedding", cents)
        )
        assigned.write.mode("overwrite").partitionBy("part").parquet(path)
    q = list(_query_vec())

    def py_cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return d / n if n else float("-inf")  # zero-norm ranks last, never raises

    probes = sorted(range(len(cents)), key=lambda i: -py_cos(cents[i], q))[:2]
    qcol = F.array(*[F.lit(float(x)) for x in q])
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("part").isin(probes))
        .select(F.col("vec_id"), F.round(SIM.cosine(F.col("embedding"), qcol), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


@query("ann_ivf_pruned_topk", oracle=_ivf_oracle)
def ann_ivf_pruned_topk(spark, sf_dir):
    """IVF assignment as a PHYSICAL partition column (the twin of
    ann_lsh_pruned_topk): the n_probe=2 query scans exactly 2 of 8
    partition directories — the coarse quantizer's pruning is done by
    the storage layout, not a runtime filter over a full scan
    (plan-pinned: PartitionFilters on part). Same oracle as
    ann_ivf_topk: the layout must not change the answer."""
    return ann_ivf_pruned_df(spark, sf_dir)


def _cos_dedup_oracle() -> str:
    dot = _dot_sql("l.embedding", "r.embedding")
    nl = f"sqrt({_dot_sql('l.embedding', 'l.embedding')})"
    nr = f"sqrt({_dot_sql('r.embedding', 'r.embedding')})"
    return f"""
    SELECT l.vec_id AS id_a, r.vec_id AS id_b,
           round({dot} / ({nl} * {nr}), 6) AS score
    FROM embeddings l JOIN embeddings r
      ON l.label = r.label AND l.vec_id < r.vec_id
    WHERE round({dot} / ({nl} * {nr}), 6) >= 0.95
    """


@query("embedding_cosine_dedup", oracle=_cos_dedup_oracle)
def embedding_cosine_dedup(spark, sf_dir):
    """Embedding near-dup pairs: exact pairwise cosine within the label
    blocking key (at scale the block is an LSH bucket). Never an
    unblocked cross join."""
    return SIM.cosine_dedup_pairs(
        load(spark, sf_dir, "embeddings"), "label", threshold=0.95
    )


@query(
    "embedding_norm_stats",
    oracle=f"""
    SELECT label, count(*) AS cnt,
           round(avg(sqrt({_dot_sql("embedding", "embedding").replace('e.embedding', 'embedding')})), 4)
             AS avg_norm
    FROM embeddings GROUP BY label
    """,
)
def embedding_norm_stats(spark, sf_dir):
    """Vector-norm statistics per label (sanity profile of an embedding
    corpus; one scan, JVM-side aggregate arithmetic)."""
    emb = load(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg(SIM.l2_norm(F.col("embedding"))), 4).alias("avg_norm"),
    )


def _kmeans_oracle() -> str:
    cents = _centroids()
    score_cols = []
    for i, c in enumerate(cents):
        cc = "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"
        dot = _dot_sql("e.embedding", cc)
        nrm = f"sqrt({_dot_sql('e.embedding', 'e.embedding')}) * sqrt({_dot_sql(cc, cc)})"
        score_cols.append(f"{dot} / ({nrm}) AS s{i}")
    n = len(cents)
    gmax = "greatest(" + ", ".join(f"s{i}" for i in range(n)) + ")"
    idx_case = (
        "CASE "
        + " ".join(f"WHEN s{i} >= {gmax} THEN {i}" for i in range(n))
        + " END"
    )
    return f"""
    WITH scored AS (
      SELECT e.vec_id, e.embedding, {", ".join(score_cols)}
      FROM embeddings e),
    assigned AS (SELECT vec_id, embedding, {idx_case} AS cluster FROM scored)
    SELECT cluster, dim, round(avg(CAST(v AS DOUBLE)), 5) AS centroid_val,
           count(*) AS n_members
    FROM (SELECT cluster, unnest(embedding) AS v,
                 unnest(range(1, len(embedding) + 1)) AS dim
          FROM assigned) g
    GROUP BY cluster, dim ORDER BY cluster, dim
    """


@query("embedding_kmeans_iter", oracle=_kmeans_oracle)
def embedding_kmeans_iter(spark, sf_dir):
    """One Lloyd iteration of k-means over the embedding corpus:
    assign every vector to its nearest centroid (cosine, same
    first-max-wins rule as ivf_assign), then recompute centroids as
    per-cluster per-dimension means. Full k-means = a driver loop over
    this operator with the assignment persisted between iterations —
    the canonical iterative-algorithm shape on Spark.

    Scale: the centroid update is ONE aggregation with 64 per-dimension
    element_at sums — no explode. The earlier posexplode formulation
    re-evaluated the HOF assignment expression per generated row
    (scalars beside a generator collapse into the post-explode
    projection — ARCHITECTURE.md pitfall 12; measured ~3× here, 35× on
    the corpus-stats query), and multiplied rows 64× before the
    map-side combine. Sum columns are k×dim bounded either way;
    assignment is pure column expressions (no Python, no shuffle)."""
    cents = [list(c) for c in _centroids()]
    dim = len(cents[0])
    emb = load(spark, sf_dir, "embeddings")
    assigned = emb.withColumn("cluster", SIM.ivf_assign("embedding", cents))
    sums = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        *[
            F.sum(F.element_at("embedding", i + 1).cast("double")).alias(f"s{i}")
            for i in range(dim)
        ],
    )
    stack = (
        f"stack({dim}, "
        + ", ".join(f"{i + 1}, s{i}" for i in range(dim))
        + ") AS (dim, ssum)"
    )
    return (
        sums.selectExpr("cluster", "n_members", stack)
        .select(
            "cluster",
            "dim",
            F.round(F.col("ssum") / F.col("n_members"), 5).alias("centroid_val"),
            "n_members",
        )
        .orderBy("cluster", "dim")
    )


@query(
    "text_sparse_dot_topk",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
      FROM documents),
    tf AS (
      SELECT doc_id, g AS term, count(*) AS tf
      FROM (
        SELECT doc_id, unnest({grams_expr("toks", 3)}) AS g
        FROM raw)
      GROUP BY doc_id, g),
    rare AS (
      SELECT term FROM tf GROUP BY term
      HAVING count(*) BETWEEN 2 AND 8),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
      FROM tf a JOIN rare USING (term) JOIN tf b USING (term)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, dot FROM pairs
    ORDER BY dot DESC, doc_a, doc_b LIMIT 20
    """,
)
def text_sparse_dot_topk(spark, sf_dir):
    """Sparse term-vector similarity through the inverted index: the
    top document pairs by dot product of 3-gram-frequency vectors,
    computed by joining postings on the shingle — the classic scalable
    text-similarity path (no dense embeddings, no pairwise cross
    join). Shingles, not unigrams, are the term unit: this corpus's
    ~30-word vocabulary makes every unigram stop-like (df > 200/500),
    while 3-grams give a long rare tail — the same reason web-scale
    near-dup uses shingled features.

    The scale lever is DF-BAND PRUNING: only terms with document
    frequency in [2, 8] join (df=1 terms can't produce a pair; high-df
    terms are stop-like, contribute little discrimination, and their
    posting self-join is the quadratic blowup — a df-100k term alone
    would generate 10^10 candidate pairs). This bounds per-term join
    fanout at df², making candidate generation O(Σ df²) over rare
    terms only — the same candidate-bounding idea as MinHash banding,
    here exact. Integer tf products keep the oracle exact; top-k is
    TakeOrderedAndProject, not a global sort."""
    from ..operators import text as TX

    d = load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(TX.shingles("text", 3)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # (doc_id, term) rows are unique post-groupBy, so df is a plain
    # count-over-term window — no separate rare-term aggregate and no
    # extra join per side (the aggregate+join form recomputed the
    # explode subplan 3×; the two window branches share one exchange)
    from pyspark.sql import Window as W

    tfr = tf.withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("term"))
    ).filter(F.col("df").between(2, 8))
    a = tfr.select("term", F.col("doc_id").alias("doc_a"), F.col("tf").alias("tf_a"))
    b = tfr.select("term", F.col("doc_id").alias("doc_b"), F.col("tf").alias("tf_b"))
    pairs = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).cast("bigint").alias("dot"))
    )
    return pairs.orderBy(
        F.col("dot").desc(), "doc_a", "doc_b"
    ).limit(20)


def _semdedup_oracle() -> str:
    cents = _centroids()
    score_cols = []
    for i, c in enumerate(cents):
        cc = "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"
        dot = _dot_sql("e.embedding", cc)
        nrm = f"sqrt({_dot_sql('e.embedding', 'e.embedding')}) * sqrt({_dot_sql(cc, cc)})"
        score_cols.append(f"{dot} / ({nrm}) AS s{i}")
    n = len(cents)
    gmax = "greatest(" + ", ".join(f"s{i}" for i in range(n)) + ")"
    idx_case = (
        "CASE "
        + " ".join(f"WHEN s{i} >= {gmax} THEN {i}" for i in range(n))
        + " END"
    )
    pdot = _dot_sql("l.embedding", "r.embedding")
    pn = (
        f"sqrt({_dot_sql('l.embedding', 'l.embedding')})"
        f" * sqrt({_dot_sql('r.embedding', 'r.embedding')})"
    )
    enorm = f"sqrt({_dot_sql('e.embedding', 'e.embedding')})"
    return f"""
    WITH scored AS (
      SELECT e.vec_id, e.embedding, {enorm} AS enorm, {", ".join(score_cols)}
      FROM embeddings e),
    assigned AS (
      -- zero-norm sentinel mirrors the Spark path: a degenerate
      -- embedding gets cluster -1 on BOTH engines (its s_i are all
      -- NULL/NaN, so the bare CASE would otherwise yield NULL here)
      SELECT vec_id, embedding,
             CASE WHEN enorm > 0 THEN ({idx_case}) ELSE -1 END AS c
      FROM scored),
    pruned AS (
      SELECT DISTINCT r.vec_id
      FROM assigned l JOIN assigned r ON l.c = r.c AND l.vec_id < r.vec_id
      WHERE ({pn}) > 0 AND round({pdot} / ({pn}), 6) >= 0.95)
    SELECT a.vec_id, a.c AS cluster, (p.vec_id IS NULL) AS kept
    FROM assigned a LEFT JOIN pruned p ON a.vec_id = p.vec_id
    ORDER BY a.vec_id
    """


@query("semdedup_prune", oracle=_semdedup_oracle)
def semdedup_prune(spark, sf_dir):
    """SemDeDup semantic deduplication (Abbas et al. 2023): coarse
    k-means cluster assignment (the same fixed quantizer as the IVF
    family), then within-cluster pairwise cosine with the deterministic
    keep-lowest-id rule. One row per vector: (vec_id, cluster, kept).

    The scale story is the SemDeDup paper's own: the quantizer bounds
    the quadratic stage to within-cluster pairs, so the corpus-wide
    cost is Σ cluster_size² instead of N² — the embedding rides exactly
    one exchange (hash-partitioned by cluster id). The oracle recomputes
    assignment + pairwise + prune rule in SQL from the same centroid
    literals."""
    return SIM.semdedup(
        load(spark, sf_dir, "embeddings"),
        [list(c) for c in _centroids()],
        threshold=0.95,
    )


_BM25_TERMS = ("vector", "stream", "merge")


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\\s+'),
                                t -> t <> '')) AS t
      FROM documents),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
           FROM tok GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) // CAST(count(*) AS BIGINT)
                       AS avgdl
              FROM dl),
    tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
           FROM tok WHERE t IN ({terms}) GROUP BY doc_id, t),
    df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
    contrib AS (
      SELECT tf.doc_id,
             (((1000000 * (s.n_docs - df.df + 1)) // (df.df + 1))
               * 2200 * tf.tf * s.avgdl)
               // (1000 * s.avgdl * tf.tf + 300 * s.avgdl + 900 * dl.dl)
               AS c
      FROM tf JOIN df USING (t) JOIN dl USING (doc_id), stats s)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_ppm
    FROM contrib GROUP BY doc_id
    ORDER BY score_ppm DESC, doc_id ASC LIMIT 10
    """


@query("bm25_topk", oracle=_bm25_oracle)
def bm25_topk(spark, sf_dir):
    """BM25-SHAPED retrieval scoring: top-10 documents for a fixed term
    query through the inverted-index path (postings join + per-doc
    accumulate), with BM25's doc-length normalization (k1=1.2, b=0.75)
    in EXACT integer arithmetic: the rational k1/b constants are folded
    into the integer identity
    2200·tf·avgdl / (1000·avgdl·tf + 300·avgdl + 900·dl), and the
    log-idf is replaced by the integer rational (1e6·(N−df+1)) DIV
    (df+1). That substitution is MONOTONE IN df PER TERM but not a
    monotone transform of the summed multi-term score — a document's
    total can order differently than under true log-idf BM25, so this
    is "BM25-shaped scoring, per-term monotone in df", not rank-exact
    BM25 (the price of a hash-exact cross-engine oracle). Overflow
    bound: the largest intermediate is idf_int·2200·tf·avgdl ≈
    2.2e9·N·tf·avgdl, which must stay < 2^63 ≈ 9.2e18 — i.e.
    N·tf·avgdl ≲ 4.2e9 (e.g. 1e6 docs × tf 40 × avgdl 100 is the
    ceiling; a 1e8-doc corpus overflows with any realistic tf·avgdl,
    and Spark's non-ANSI mode would WRAP silently where DuckDB errors
    — use DECIMAL(38) or float scoring beyond this regime).

    100 TB design: the term filter lands BEFORE the (doc_id, term)
    shuffle so only query-term postings move; df and the corpus stats
    are broadcast 1-row/`|q|`-row aggregates; the final top-k is
    TakeOrderedAndProject, never a global sort. Doc length comes from
    the same token stream (one explode feeds dl, tf, df)."""
    return (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("score_ppm"), F.asc("doc_id"))
        .limit(10)
    )


def _bm25_scores(spark, sf_dir):
    """The bm25_topk scoring pipeline without the final top-k: (doc_id,
    score_ppm) for every document matching ≥ 1 query term. Shared by
    bm25_topk and the hybrid-RRF lexical arm so both entries score the
    exact same integer arithmetic."""
    from ..operators import text as TX

    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("t"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("CAST(sum(dl) AS BIGINT) DIV count(1)").alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("t").isin(list(_BM25_TERMS)))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(
                "(((1000000 * (n_docs - df + 1)) DIV (df + 1))"
                " * 2200 * tf * avgdl)"
                " DIV (1000 * avgdl * tf + 300 * avgdl + 900 * dl)"
            ).alias("c"),
        )
    )
    return contrib.groupBy("doc_id").agg(F.sum("c").alias("score_ppm"))


def _pq_oracle() -> str:
    """Generative SQL mirror of SIM.pq_codes at num_sub=8 over the
    4-centroid set: per sub-space the 8-term squared-L2 sum is written
    left-associated exactly as the Spark expression chains it, so
    double arithmetic is bit-equal across engines."""
    cents = _centroids()[:4]
    num_sub, sub_d = 8, 8

    def dist_expr(s: int, c: int) -> str:
        return " + ".join(
            f"(CAST(embedding[{s * sub_d + j + 1}] AS DOUBLE) - {cents[c][s * sub_d + j]!r})"
            f" * (CAST(embedding[{s * sub_d + j + 1}] AS DOUBLE) - {cents[c][s * sub_d + j]!r})"
            for j in range(sub_d)
        )

    inner = ", ".join(
        f"({dist_expr(s, c)}) AS d{s}_{c}"
        for s in range(num_sub)
        for c in range(4)
    )
    outer = ["vec_id"]
    for s in range(num_sub):
        m = f"least({', '.join(f'd{s}_{c}' for c in range(4))})"
        outer.append(
            "CAST(CASE "
            + " ".join(f"WHEN d{s}_{c} = {m} THEN {c + 1}" for c in range(4))
            + f" END AS INTEGER) AS code_{s}"
        )
        outer.append(f"round({m}, 5) AS dist_{s}")
    return f"""
    WITH d AS (SELECT vec_id, {inner} FROM embeddings)
    SELECT {', '.join(outer)} FROM d ORDER BY vec_id
    """


@query("embedding_pq_codes", oracle=_pq_oracle)
def embedding_pq_codes(spark, sf_dir):
    """Product-quantization code assignment (Jégou et al. 2011): each
    64-dim embedding splits into 8 sub-vectors, each assigned to its
    nearest of 4 deterministic sub-centroids by squared L2 — the
    8-byte-per-vector compression that billion-scale ANN re-ranks
    over (per-query ADC lookup tables replace raw-vector scans).
    ZERO shuffles: every sub-distance is unrolled codegen'd arithmetic
    and the argmin is array_position(array_min) (pitfall-10-safe).
    Oracle mirrors the left-associated double arithmetic exactly."""
    emb = load(spark, sf_dir, "embeddings")
    out = SIM.pq_codes(emb, [list(c) for c in _centroids()[:4]], num_sub=8)
    return out.orderBy("vec_id")


def _pq_train_oracle() -> str:
    """Training mirror: assignment via the same least()/first-match
    CASE over the _pq_oracle distance arithmetic (bit-equal doubles →
    identical assignment), update via per-(sub, code, dim) avg over an
    8-way UNION ALL fanout, rounded 5 (the _kmeans_oracle float
    discipline)."""
    cents = _centroids()[:4]
    num_sub, sub_d = 8, 8

    def dist_expr(s: int, c: int) -> str:
        return " + ".join(
            f"(CAST(embedding[{s * sub_d + j + 1}] AS DOUBLE) - {cents[c][s * sub_d + j]!r})"
            f" * (CAST(embedding[{s * sub_d + j + 1}] AS DOUBLE) - {cents[c][s * sub_d + j]!r})"
            for j in range(sub_d)
        )

    inner = ", ".join(
        f"({dist_expr(s, c)}) AS d{s}_{c}"
        for s in range(num_sub)
        for c in range(4)
    )
    codes = []
    for s in range(num_sub):
        m = f"least({', '.join(f'd{s}_{c}' for c in range(4))})"
        codes.append(
            "CASE "
            + " ".join(f"WHEN d{s}_{c} = {m} THEN {c + 1}" for c in range(4))
            + f" END AS code_{s}"
        )
    fanout = "\n      UNION ALL ".join(
        f"SELECT {s} AS sub, code_{s} AS code, embedding FROM a"
        for s in range(num_sub)
    )
    return f"""
    WITH d AS (SELECT vec_id, {inner}, embedding FROM embeddings),
    a AS (SELECT vec_id, {', '.join(codes)}, embedding FROM d),
    u AS ({fanout})
    SELECT CAST(u.sub AS BIGINT) AS sub,
           CAST(u.code AS BIGINT) AS code,
           CAST(t.j AS BIGINT) AS dim,
           round(avg(CAST(u.embedding[u.sub * {sub_d} + t.j] AS DOUBLE)), 5)
             AS centroid_val,
           CAST(count(*) AS BIGINT) AS n_members
    FROM u, (SELECT unnest(range(1, {sub_d + 1})) AS j) t
    GROUP BY u.sub, u.code, t.j
    ORDER BY sub, code, dim
    """


@query("pq_train_codebook_iter", oracle=_pq_train_oracle)
def pq_train_codebook_iter(spark, sf_dir):
    """The TRAIN stage of the PQ lifecycle (FAISS
    ``ProductQuantizer::train``): one Lloyd iteration of per-sub-space
    k-means over the embedding corpus — assign each sub-vector to its
    nearest current sub-centroid with the EXACT arithmetic pq_codes
    encodes with, emit the per-(sub, code, dim) mean as the updated
    codebook plus membership counts. A driver loop over this entry is
    full codebook training; the catalog now covers train → encode
    (embedding_pq_codes) → search (ann_pq_*) → evaluate
    (ann_pq_recall_at_k, embedding_pq_distortion). ONE aggregation,
    one scan, no explode (256 bounded conditional sums — the
    embedding_kmeans_iter no-generator discipline); the stack fanout
    runs on the single post-agg row."""
    return SIM.pq_train_iter(
        load(spark, sf_dir, "embeddings"),
        [list(c) for c in _centroids()[:4]],
        num_sub=8,
    )


def _pq_distortion_oracle() -> str:
    """Distortion mirror: per-row per-sub min squared-L2 from the
    _pq_oracle arithmetic, rounded 5 then scaled to exact-integer
    micro-units (round-half-away on a value that is always ~10k from
    a .5 boundary — round(x,5)*1e6 is integer×10 ± float dust), summed
    as BIGINT (order-independent), floor-divided by the count."""
    inner, _ = _adc_sql_parts()
    sums = ", ".join(
        f"sum(CAST(round(round(least(d{s}_0, d{s}_1, d{s}_2, d{s}_3), 5)"
        f" * 1000000) AS BIGINT)) AS m{s}"
        for s in range(8)
    )
    vals = ", ".join(f"t.m{s}" for s in range(8))
    return f"""
    WITH d AS (SELECT vec_id, {inner} FROM embeddings),
    t AS (SELECT count(*) AS n, {sums} FROM d)
    SELECT CAST(s.sub AS BIGINT) AS sub,
           CAST(t.n AS BIGINT) AS n_vectors,
           CAST(list_extract([{vals}], s.sub + 1) // t.n AS BIGINT) AS mse_e6
    FROM t, (SELECT unnest(range(0, 8)) AS sub) s
    ORDER BY sub
    """


@query("embedding_pq_distortion", oracle=_pq_distortion_oracle)
def embedding_pq_distortion(spark, sf_dir):
    """The EVALUATE half of codebook quality: per-sub-space mean
    quantization error (squared L2 between each sub-vector and its
    assigned sub-centroid, in exact-integer micro-units) — FAISS's
    reconstruction-MSE diagnostic, the number an operator watches
    across pq_train_codebook_iter rounds to decide when the codebook
    has converged, and the companion to ann_pq_recall_at_k (recall
    measures end-to-end search quality; distortion isolates codebook
    quality from query distribution). Integer discipline throughout:
    per-row errors become BIGINT micro-units before the sum, so no
    order-dependent float accumulation crosses the oracle. ONE
    aggregation over the pq_codes projection (dist_s IS the assigned
    min distance — no recompute), stack on the single post-agg row."""
    codes = SIM.pq_codes(
        load(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull()),
        [list(c) for c in _centroids()[:4]],
        num_sub=8,
    )
    sums = codes.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(
                F.round(F.col(f"dist_{s}") * 1000000).cast("bigint")
            ).alias(f"m{s}")
            for s in range(8)
        ],
    )
    stack_args = ", ".join(f"{s}, m{s}" for s in range(8))
    return (
        sums.selectExpr("n", f"stack(8, {stack_args}) AS (sub, msum)")
        .select(
            F.col("sub").cast("bigint").alias("sub"),
            F.col("n").cast("bigint").alias("n_vectors"),
            F.expr("msum DIV n").cast("bigint").alias("mse_e6"),
        )
        .orderBy("sub")
    )


def _adc_sql_parts() -> tuple[str, str]:
    """The shared ADC oracle machinery: ``(inner, adist)`` SQL
    fragments — per-sub squared distances to each of the 4 centroids
    (``inner``, for the codes CASE) and the lookup-table approximate
    distance (``adist``), with the SAME driver-computed float64
    literals the Spark plan embeds (repr round-trips exactly), summed
    left-associated — so approximate distances are bit-equal."""
    cents = _centroids()[:4]
    q = _query_vec()
    num_sub, sub_d = 8, 8
    lut = [
        [
            sum((q[s * sub_d + j] - c[s * sub_d + j]) ** 2 for j in range(sub_d))
            for c in cents
        ]
        for s in range(num_sub)
    ]

    def dist_expr(s: int, c: int) -> str:
        return " + ".join(
            f"(CAST(embedding[{s * sub_d + j + 1}] AS DOUBLE) - {cents[c][s * sub_d + j]!r})"
            f" * (CAST(embedding[{s * sub_d + j + 1}] AS DOUBLE) - {cents[c][s * sub_d + j]!r})"
            for j in range(sub_d)
        )

    inner = ", ".join(
        f"({dist_expr(s, c)}) AS d{s}_{c}" for s in range(num_sub) for c in range(4)
    )
    terms = []
    for s in range(num_sub):
        m = f"least({', '.join(f'd{s}_{c}' for c in range(4))})"
        terms.append(
            "(CASE "
            + " ".join(f"WHEN d{s}_{c} = {m} THEN CAST({lut[s][c]!r} AS DOUBLE)" for c in range(4))
            + " END)"
        )
    return inner, " + ".join(terms)


def _pq_adc_oracle() -> str:
    """ADC mirror: codes via the same per-sub least() CASE as
    _pq_oracle; lookup-table arithmetic from _adc_sql_parts."""
    inner, adist = _adc_sql_parts()
    return f"""
    WITH d AS (SELECT vec_id, {inner} FROM embeddings)
    SELECT vec_id, round(adist, 5) AS adist FROM (
      SELECT vec_id, {adist} AS adist FROM d
    ) ORDER BY adist, vec_id LIMIT 10
    """


@query("ann_pq_adc_topk", oracle=_pq_adc_oracle)
def ann_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance top-10: the query's 8×4 lookup table of
    squared sub-distances enters the plan as driver-computed literals,
    and each corpus row's approximate distance is 8 array indexings by
    its PQ codes plus 7 adds — the billion-scale ANN read path where
    query-time work per vector is O(num_sub), independent of dimension.
    orderBy+limit compiles to TakeOrderedAndProject (per-partition
    heap, never a global sort). Oracle recomputes codes and sums the
    identical float64 lookup literals."""
    emb = load(spark, sf_dir, "embeddings")
    return SIM.pq_adc_topk(
        emb, list(_query_vec()), [list(c) for c in _centroids()[:4]], k=10
    )


@query("ann_pq_stored_topk", oracle=_pq_adc_oracle)
def ann_pq_stored_topk(spark, sf_dir):
    """PQ ADC top-10 over STORED codes — the production read path
    end-to-end (the dedup_minhash_stored_index layout discipline): the
    embeddings are quantized ONCE into a (vec_id, code_0..7) parquet
    table with self-describing params (codebook fingerprint — a
    codebook drift between write and query raises instead of silently
    scoring against the wrong centroids), then the query scans ONLY
    the 8-byte codes: the scan's ReadSchema contains no embedding
    column (plan-pinned in tests/test_plans.py), so at billion scale
    the ANN query reads ~9 bytes/vector instead of 256. Same ADC
    lookup-table arithmetic as ann_pq_adc_topk, so the two entries
    share the oracle — the write→read round trip must not change a
    single distance. At 100 TB the codes are written by the ingest
    job; here the query performs the write too, so the gate covers
    both halves."""
    import os
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    cents = [list(c) for c in _centroids()[:4]]
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_pq_codes_{tag}")
    SIM.write_pq_codes(emb, path, cents, num_sub=8)
    return SIM.pq_adc_topk_stored(spark, path, list(_query_vec()), cents, k=10)


def _pq_rerank_oracle() -> str:
    """Two-stage mirror: the _pq_adc_oracle arithmetic ranks the ADC
    shortlist (LIMIT 50, ties by vec_id — distances are bit-equal
    across engines so the shortlist SET is identical), then the
    _ann_topk_oracle exact-cosine arithmetic re-ranks only shortlist
    rows."""
    inner, adist = _adc_sql_parts()
    qlit = _vec_sql_literal(_query_vec())
    dot = _dot_sql("e.embedding", "q.qv")
    norm_e = f"sqrt({_dot_sql('e.embedding', 'e.embedding')})"
    norm_q = f"sqrt({_dot_sql('q.qv', 'q.qv')})"
    return f"""
    WITH d AS (SELECT vec_id, {inner} FROM embeddings),
    sl AS (
      SELECT vec_id FROM (SELECT vec_id, {adist} AS adist FROM d)
      ORDER BY adist, vec_id LIMIT 50
    ),
    q AS (SELECT {qlit} AS qv)
    SELECT e.vec_id, round({dot} / ({norm_e} * {norm_q}), 6) AS score
    FROM embeddings e JOIN sl USING (vec_id), q
    ORDER BY score DESC, e.vec_id ASC
    LIMIT 10
    """


@query("ann_pq_rerank_topk", oracle=_pq_rerank_oracle)
def ann_pq_rerank_topk(spark, sf_dir):
    """The two-stage production ANN read path: ADC SHORTLIST over the
    stored 8-byte codes (k′=50 candidates — the scan that never reads
    embeddings) → EXACT cosine RE-RANK over ONLY the 50 shortlist ids
    (an In-literal predicate pushed into the embeddings parquet scan,
    plan-pinned in tests/test_plans.py — at billion scale the raw
    table is touched for ~k′ rows, never scanned) → exact top-10 of
    the shortlist. The re-rank repairs ADC quantization error inside
    the shortlist: measured at sf0.01 with this deliberately coarse
    4×8 codebook, ADC-only top-10 shares 2/10 with brute force while
    re-ranked recall@10 is 4/10 at k′=50, rising monotonically to
    8/10 at k′=200 (recall@k ≡ shortlist recall — the k′ knob;
    asserted in tests/test_operators.py). Oracle: the _pq_adc_oracle
    shortlist CTE + the _ann_topk_oracle exact-cosine arithmetic over
    shortlist rows."""
    import os
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    cents = [list(c) for c in _centroids()[:4]]
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_pq_rerank_{tag}")
    SIM.write_pq_codes(emb, path, cents, num_sub=8)
    return SIM.pq_rerank_topk(
        emb, path, list(_query_vec()), cents, k=10, k_prime=50
    )


def _pq_recall_oracle() -> str:
    """Recall-sweep mirror: ADC ranks from the _adc_sql_parts
    arithmetic (row_number over (adist, vec_id) — bit-equal distances
    make the rank IDENTICAL across engines), the exact top-10 from the
    _ann_topk_oracle arithmetic, hits counted per k′ by a theta join
    on rank."""
    inner, adist = _adc_sql_parts()
    qlit = _vec_sql_literal(_query_vec())
    dot = _dot_sql("e.embedding", "q.qv")
    norm_e = f"sqrt({_dot_sql('e.embedding', 'e.embedding')})"
    norm_q = f"sqrt({_dot_sql('q.qv', 'q.qv')})"
    return f"""
    WITH d AS (SELECT vec_id, {inner} FROM embeddings),
    a AS (
      SELECT vec_id, row_number() OVER (ORDER BY adist, vec_id) AS ra
      FROM (SELECT vec_id, {adist} AS adist FROM d)
    ),
    q AS (SELECT {qlit} AS qv),
    ex AS (
      SELECT e.vec_id FROM embeddings e, q
      ORDER BY round({dot} / ({norm_e} * {norm_q}), 6) DESC, e.vec_id
      LIMIT 10
    ),
    hit AS (SELECT a.ra FROM a JOIN ex USING (vec_id)),
    ks AS (SELECT unnest([10, 25, 50, 100, 200]) AS k_prime)
    SELECT CAST(ks.k_prime AS BIGINT) AS k_prime,
           CAST(count(hit.ra) AS BIGINT) AS hits
    FROM ks LEFT JOIN hit ON hit.ra <= ks.k_prime
    GROUP BY ks.k_prime ORDER BY k_prime
    """


@query("ann_pq_recall_at_k", oracle=_pq_recall_oracle)
def ann_pq_recall_at_k(spark, sf_dir):
    """The k′ tuning curve for the two-stage ANN read path: recall@10
    of the ADC shortlist at k′ ∈ {10, 25, 50, 100, 200} — the sweep an
    operator runs ONCE per codebook to pick the production shortlist
    size before pinning ann_pq_rerank_topk's k′ (re-ranked recall@k ≡
    shortlist recall, argued in pq_recall_at_k's docstring and
    asserted monotone in tests). At sf0.01 with the deliberately
    coarse 4×8 codebook the curve is 2/10 → 8/10 across the sweep;
    every point is VALUE-checked against the oracle, so a drift in
    either the ADC arithmetic or the exact-cosine arithmetic anywhere
    in the sweep turns this row red. Post-limit work (rank window, hit
    join, k′ fanout) touches ≤ 210 rows at ANY corpus scale."""
    return SIM.pq_recall_at_k(
        load(spark, sf_dir, "embeddings"),
        list(_query_vec()),
        [list(c) for c in _centroids()[:4]],
    )


@query("ann_pq_append_topk", oracle=_pq_adc_oracle)
def ann_pq_append_topk(spark, sf_dir):
    """The daily-crawl ANN index lifecycle as one gate row (the
    dedup_minhash_index_append discipline): write the codes index from
    the base corpus (vec_id % 3 ≠ 0), APPEND the new batch
    (vec_id % 3 = 0) via append_pq_codes — codebook-fingerprint-
    checked, first-writer-wins anti-join on id — then re-append the
    SAME batch (must add 0 rows: idempotent re-delivery) and query ADC
    top-10 over the stored codes. Codes are deterministic in (vector,
    codebook), so write→append→query must equal a one-shot index over
    the full corpus — the entry therefore SHARES ann_pq_adc_topk's
    oracle: a single changed distance anywhere in the append path
    turns this row red."""
    import os
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    cents = [list(c) for c in _centroids()[:4]]
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_pq_append_{tag}")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    SIM.write_pq_codes(base, path, cents, num_sub=8)
    SIM.append_pq_codes(batch, path, cents)
    n_redelivered = SIM.append_pq_codes(batch, path, cents)
    if n_redelivered != 0:
        raise AssertionError(
            f"append_pq_codes re-delivery appended {n_redelivered} rows — "
            "first-writer-wins anti-join must make re-sent batches no-ops"
        )
    return SIM.pq_adc_topk_stored(spark, path, list(_query_vec()), cents, k=10)


def _ivfpq_oracle(corpus_where: str = "") -> str:
    """IVF-PQ mirror: coarse assignment via the _ivf_oracle CASE over 8
    cosine scores, rows restricted to the same driver-computed top-2
    probes, then PQ codes + the ADC lookup-table sum of _pq_adc_oracle
    — every float literal identical to the Spark plan's.
    ``corpus_where`` restricts the scored corpus (the delete twin
    scores rebuild-without-the-takedown-ids from scratch)."""
    import math

    cents8 = _centroids()
    pq_cents = _centroids()[:4]
    q = _query_vec()

    def py_cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return d / n if n else float("-inf")  # zero-norm ranks last, never raises

    probes = sorted(range(len(cents8)), key=lambda i: -py_cos(cents8[i], q))[:2]
    # coarse assignment scores
    score_cols = []
    for i, c in enumerate(cents8):
        cc = "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"
        dotc = _dot_sql("e.embedding", cc)
        nrm = f"sqrt({_dot_sql('e.embedding', 'e.embedding')}) * sqrt({_dot_sql(cc, cc)})"
        score_cols.append(f"{dotc} / ({nrm}) AS s{i}")
    n = len(cents8)
    gmax = "greatest(" + ", ".join(f"s{i}" for i in range(n)) + ")"
    idx_case = (
        "CASE "
        + " ".join(f"WHEN s{i} >= {gmax} THEN {i}" for i in range(n))
        + " END"
    )
    # PQ sub-distances + ADC lookup (by_residual=false: raw embeddings)
    num_sub, sub_d = 8, 8
    lut = [
        [
            sum((q[s * sub_d + j] - c[s * sub_d + j]) ** 2 for j in range(sub_d))
            for c in pq_cents
        ]
        for s in range(num_sub)
    ]

    def dist_expr(s: int, c: int) -> str:
        return " + ".join(
            f"(CAST(embedding[{s * sub_d + j + 1}] AS DOUBLE) - {pq_cents[c][s * sub_d + j]!r})"
            f" * (CAST(embedding[{s * sub_d + j + 1}] AS DOUBLE) - {pq_cents[c][s * sub_d + j]!r})"
            for j in range(sub_d)
        )

    inner = ", ".join(
        f"({dist_expr(s, c)}) AS d{s}_{c}" for s in range(num_sub) for c in range(4)
    )
    terms = []
    for s in range(num_sub):
        m = f"least({', '.join(f'd{s}_{c}' for c in range(4))})"
        terms.append(
            "(CASE "
            + " ".join(
                f"WHEN d{s}_{c} = {m} THEN CAST({lut[s][c]!r} AS DOUBLE)"
                for c in range(4)
            )
            + " END)"
        )
    adist = " + ".join(terms)
    return f"""
    WITH scored AS (
      SELECT e.vec_id, e.embedding, {", ".join(score_cols)} FROM embeddings e
      {corpus_where}
    ),
    probed AS (
      SELECT vec_id, embedding FROM (
        SELECT vec_id, embedding, {idx_case} AS part FROM scored
      ) WHERE part IN ({", ".join(str(p) for p in probes)})
    ),
    d AS (SELECT vec_id, {inner} FROM probed)
    SELECT vec_id, round(adist, 5) AS adist FROM (
      SELECT vec_id, {adist} AS adist FROM d
    ) ORDER BY adist, vec_id LIMIT 10
    """


def _ivfpq_residual_oracle() -> str:
    """by_residual twin of _ivfpq_oracle: codes quantize the residual
    — (embedding[j] − coarse[part][j]) − pqc[c][j], the coarse
    component selected by a CASE over the row's part, mirroring the
    Spark write path's zip_with-then-subtract order exactly — and the
    ADC lookup table is built per probed list from
    (q − coarse[p] − pqc) literals."""
    import math

    cents8 = _centroids()
    pq_cents = _centroids()[:4]
    q = _query_vec()

    def py_cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return d / n if n else float("-inf")  # zero-norm ranks last, never raises

    probes = sorted(range(len(cents8)), key=lambda i: -py_cos(cents8[i], q))[:2]
    score_cols = []
    for i, c in enumerate(cents8):
        cc = "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"
        dotc = _dot_sql("e.embedding", cc)
        nrm = f"sqrt({_dot_sql('e.embedding', 'e.embedding')}) * sqrt({_dot_sql(cc, cc)})"
        score_cols.append(f"{dotc} / ({nrm}) AS s{i}")
    n = len(cents8)
    gmax = "greatest(" + ", ".join(f"s{i}" for i in range(n)) + ")"
    idx_case = (
        "CASE "
        + " ".join(f"WHEN s{i} >= {gmax} THEN {i}" for i in range(n))
        + " END"
    )
    num_sub, sub_d = 8, 8

    def dist_expr(s: int, c: int) -> str:
        # per term: (embedding[j] − CASE(part){coarse[p][j]}) − pqc[c][j]
        terms = []
        for j in range(sub_d):
            idx = s * sub_d + j
            coarse_case = " ".join(
                f"WHEN part = {p} THEN {cents8[p][idx]!r}" for p in probes
            )
            d = (
                f"((CAST(embedding[{idx + 1}] AS DOUBLE) - (CASE {coarse_case} END))"
                f" - {pq_cents[c][idx]!r})"
            )
            terms.append(f"{d} * {d}")
        return " + ".join(terms)

    inner = ", ".join(
        f"({dist_expr(s, c)}) AS d{s}_{c}" for s in range(num_sub) for c in range(4)
    )
    luts = {
        p: [
            [
                sum(
                    (q[s * sub_d + j] - cents8[p][s * sub_d + j] - c[s * sub_d + j]) ** 2
                    for j in range(sub_d)
                )
                for c in pq_cents
            ]
            for s in range(num_sub)
        ]
        for p in probes
    }
    terms = []
    for s in range(num_sub):
        branches = []
        for c in range(4):
            m = f"least({', '.join(f'd{s}_{cc}' for cc in range(4))})"
            per_part = " ".join(
                f"WHEN part = {p} THEN CAST({luts[p][s][c]!r} AS DOUBLE)"
                for p in probes
            )
            branches.append(f"WHEN d{s}_{c} = {m} THEN (CASE {per_part} END)")
        terms.append("(CASE " + " ".join(branches) + " END)")
    adist = " + ".join(terms)
    return f"""
    WITH scored AS (
      SELECT e.vec_id, e.embedding, {", ".join(score_cols)} FROM embeddings e
    ),
    probed AS (
      SELECT vec_id, embedding, part FROM (
        SELECT vec_id, embedding, {idx_case} AS part FROM scored
      ) WHERE part IN ({", ".join(str(p) for p in probes)})
    ),
    d AS (SELECT vec_id, part, {inner} FROM probed)
    SELECT vec_id, round(adist, 5) AS adist FROM (
      SELECT vec_id, {adist} AS adist FROM d
    ) ORDER BY adist, vec_id LIMIT 10
    """


@query("ann_ivfpq_residual_topk", oracle=_ivfpq_residual_oracle)
def ann_ivfpq_residual_topk(spark, sf_dir):
    """IVF-PQ with RESIDUAL encoding (by_residual=true — FAISS's
    default; Jégou et al. 2011 §V): stored codes quantize
    vec − coarse[part], so the shared 4-centroid codebook spends its
    resolution on the (smaller) within-list displacement rather than
    absolute position, and the query builds one ADC lookup table per
    probed list (against q − coarse[p]). Same storage layout and
    plan shape as ann_ivfpq_topk — partition-directory pruning +
    codes-only scan — the only query-time addition is an
    n_probe-branch CASE choosing the row's lookup table. The residual
    never materializes: each squared term subtracts one driver-folded
    literal behind a CASE over part, in both engines. Exact-match
    pinned additionally by an independent python model in
    tests/test_operators.py."""
    import os
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    coarse = [list(c) for c in _centroids()]
    pq_cents = [list(c) for c in _centroids()[:4]]
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_ivfpq_res_{tag}")
    SIM.write_ivfpq_index(
        emb, path, coarse, pq_cents, num_sub=8, by_residual=True
    )
    return SIM.ivfpq_adc_topk(
        spark, path, list(_query_vec()), coarse, pq_cents, k=10, n_probe=2
    )


def _ivfpq_rerank_oracle() -> str:
    """_ivfpq_oracle's coarse-assignment + probe-pruning + ADC CTEs,
    with the top-10 replaced by a LIMIT-50 shortlist re-ranked by the
    _ann_topk_oracle exact-cosine arithmetic."""
    import math

    cents8 = _centroids()
    pq_cents = _centroids()[:4]
    q = _query_vec()

    def py_cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return d / n if n else float("-inf")

    probes = sorted(range(len(cents8)), key=lambda i: -py_cos(cents8[i], q))[:2]
    score_cols = []
    for i, c in enumerate(cents8):
        cc = "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"
        dotc = _dot_sql("e.embedding", cc)
        nrm = f"sqrt({_dot_sql('e.embedding', 'e.embedding')}) * sqrt({_dot_sql(cc, cc)})"
        score_cols.append(f"{dotc} / ({nrm}) AS s{i}")
    n = len(cents8)
    gmax = "greatest(" + ", ".join(f"s{i}" for i in range(n)) + ")"
    idx_case = (
        "CASE "
        + " ".join(f"WHEN s{i} >= {gmax} THEN {i}" for i in range(n))
        + " END"
    )
    num_sub, sub_d = 8, 8
    lut = [
        [
            sum((q[s * sub_d + j] - c[s * sub_d + j]) ** 2 for j in range(sub_d))
            for c in pq_cents
        ]
        for s in range(num_sub)
    ]

    def dist_expr(s: int, c: int) -> str:
        return " + ".join(
            f"(CAST(embedding[{s * sub_d + j + 1}] AS DOUBLE) - {pq_cents[c][s * sub_d + j]!r})"
            f" * (CAST(embedding[{s * sub_d + j + 1}] AS DOUBLE) - {pq_cents[c][s * sub_d + j]!r})"
            for j in range(sub_d)
        )

    inner = ", ".join(
        f"({dist_expr(s, c)}) AS d{s}_{c}" for s in range(num_sub) for c in range(4)
    )
    terms = []
    for s in range(num_sub):
        m = f"least({', '.join(f'd{s}_{c}' for c in range(4))})"
        terms.append(
            "(CASE "
            + " ".join(
                f"WHEN d{s}_{c} = {m} THEN CAST({lut[s][c]!r} AS DOUBLE)"
                for c in range(4)
            )
            + " END)"
        )
    adist = " + ".join(terms)
    qlit = _vec_sql_literal(q)
    dot = _dot_sql("e.embedding", "q.qv")
    norm_e = f"sqrt({_dot_sql('e.embedding', 'e.embedding')})"
    norm_q = f"sqrt({_dot_sql('q.qv', 'q.qv')})"
    return f"""
    WITH scored AS (
      SELECT e.vec_id, e.embedding, {", ".join(score_cols)} FROM embeddings e
    ),
    probed AS (
      SELECT vec_id, embedding FROM (
        SELECT vec_id, embedding, {idx_case} AS part FROM scored
      ) WHERE part IN ({", ".join(str(p) for p in probes)})
    ),
    d AS (SELECT vec_id, {inner} FROM probed),
    sl AS (
      SELECT vec_id FROM (SELECT vec_id, {adist} AS adist FROM d)
      ORDER BY adist, vec_id LIMIT 50
    ),
    q AS (SELECT {qlit} AS qv)
    SELECT e.vec_id, round({dot} / ({norm_e} * {norm_q}), 6) AS score
    FROM embeddings e JOIN sl USING (vec_id), q
    ORDER BY score DESC, e.vec_id ASC
    LIMIT 10
    """


# r7 window candidate (built after the r6 window froze; green in
# check_oracle at sf0.01 and sf0.1)
@query("ann_ivfpq_rerank_topk", oracle=_ivfpq_rerank_oracle)
def ann_ivfpq_rerank_topk(spark, sf_dir):
    """The COMPLETE production ANN query over the partitioned index:
    IVF partition-directory pruning (n_probe=2 of 8) × codes-only ADC
    scan → k′=50 shortlist → exact cosine re-rank over ONLY the
    shortlist ids (pushed-In embeddings fetch) → exact top-10.
    Composes the two read-path reductions ann_ivfpq_topk proves with
    the recall repair ann_pq_rerank_topk proves — the full FAISS
    search shape on plain parquet. Shortlist recall here is bounded
    by the probe set as well as k′ (the IVF trade); the oracle
    recomputes assignment, pruning, the ADC shortlist, and the exact
    re-rank from the same literals."""
    import os
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    coarse = [list(c) for c in _centroids()]
    pq_cents = [list(c) for c in _centroids()[:4]]
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_ivfpq_{tag}")
    SIM.write_ivfpq_index(emb, path, coarse, pq_cents, num_sub=8)
    return SIM.ivfpq_rerank_topk(
        emb, path, list(_query_vec()), coarse, pq_cents,
        k=10, k_prime=50, n_probe=2,
    )


@query("ann_ivfpq_topk", oracle=_ivfpq_oracle)
def ann_ivfpq_topk(spark, sf_dir):
    """The COMPOSED billion-scale ANN read path — IVF-PQ (Jégou et al.
    2011 §V, the FAISS layout): the corpus is materialized once as a
    parquet index partitioned by coarse-centroid assignment (the
    directory layout IS the inverted list) whose rows are 8 PQ codes,
    and the n_probe=2 query (a) scans exactly 2 of 8 partition
    directories — storage-level pruning, plan-pinned PartitionFilters
    — and (b) reads only the code columns, never embeddings
    (plan-pinned ReadSchema). Per-candidate work is 8 LUT indexings +
    adds; top-k is TakeOrderedAndProject. Compounds the two reductions
    the catalog proves separately (ann_ivf_pruned_topk: scan 1/4 of
    rows; ann_pq_stored_topk: ~9 bytes/row) into the production
    composition: ~1/4 of directories × ~1/28 of bytes. Codebook drift
    between write and query raises via the stored fingerprints.
    Oracle recomputes assignment, probe pruning, codes, and the ADC
    sum from the same literals."""
    import os
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    coarse = [list(c) for c in _centroids()]
    pq_cents = [list(c) for c in _centroids()[:4]]
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_ivfpq_{tag}")
    SIM.write_ivfpq_index(emb, path, coarse, pq_cents, num_sub=8)
    return SIM.ivfpq_adc_topk(
        spark, path, list(_query_vec()), coarse, pq_cents, k=10, n_probe=2
    )


@lru_cache(maxsize=None)
def _sq8_params(sf_dir: str = _SF_ORACLE) -> tuple[tuple[float, ...], tuple[float, ...]]:
    """Per-dimension (min, scale) for 8-bit scalar quantization,
    derived driver-side from the oracle SF dir (the _centroids
    discipline: the trained parameters are driver literals in BOTH
    engines; what the value check verifies is the engines'
    quantization APPLICATION, not the min/max derivation).
    scale_j = 255/(max_j − min_j), or 0.0 for a constant dimension."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["embedding"]
    )
    vecs = [[float(x) for x in e] for e in t["embedding"].to_pylist()]
    dim = len(vecs[0])
    mins = [min(v[j] for v in vecs) for j in range(dim)]
    maxs = [max(v[j] for v in vecs) for j in range(dim)]
    scales = [
        (255.0 / (mx - mn)) if mx > mn else 0.0 for mn, mx in zip(mins, maxs)
    ]
    return tuple(mins), tuple(scales)


def _sq8_qcodes(sf_dir: str = _SF_ORACLE) -> list[int]:
    """The query vector (vec_id=0) quantized driver-side with the same
    (min, scale) literals and the same IEEE-double formula the engines
    apply — python floats ARE doubles, so the driver's codes equal
    what either engine would compute for the same vector."""
    import math

    mins, scales = _sq8_params(sf_dir)
    return [
        max(0, min(255, math.floor((x - mn) * sc)))
        for x, mn, sc in zip(_query_vec(sf_dir), mins, scales)
    ]


def _exact_double_list_sql(vals) -> str:
    """A DuckDB DOUBLE[] literal that is EXACT per element: a bare
    decimal list (``[0.1, ...]::DOUBLE[]``) is first unified into one
    shared DECIMAL type whose precision depends on the SIBLING
    elements, so an element can land 1 ULP off its nearest double —
    found when embedding_sq8_codes flipped a boundary code 255→254.
    CAST('…' AS DOUBLE) parses each element directly to the nearest
    double (exact repr roundtrip), independent of its neighbours."""
    return (
        "[" + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in vals) + "]"
    )


def _sq8_codes_sql() -> str:
    mins, scales = _sq8_params()
    mn = _exact_double_list_sql(mins)
    sc = _exact_double_list_sql(scales)
    return (
        f"list_transform(range(1, 65), i -> CAST(greatest(0, least(255, "
        f"CAST(floor((CAST(embedding[i] AS DOUBLE) - ({mn})[i]) * ({sc})[i]) "
        f"AS BIGINT))) AS BIGINT))"
    )


def _sq8_oracle() -> str:
    # codes ride as a comma-joined string: the driver's value hash is
    # type-sensitive and its portable scalar set has no ARRAY type
    # (test_oracle_duckdb_types_are_portable) — the CSV form keeps
    # every byte value-checked
    return f"""
    SELECT vec_id,
           array_to_string({_sq8_codes_sql()}, ',') AS codes_csv,
           CAST(list_sum({_sq8_codes_sql()}) AS BIGINT) AS code_sum
    FROM embeddings ORDER BY vec_id
    """


@query("embedding_sq8_codes", oracle=_sq8_oracle)
def embedding_sq8_codes(spark, sf_dir):
    """8-bit scalar quantization of every embedding (the FAISS
    ScalarQuantizer QT_8bit design): one byte per dimension via
    per-dim (min, scale) parameters trained driver-side on the corpus
    — 4× compression with no codebook, the standard first rung of the
    ANN memory ladder (raw → SQ8 → PQ). Emits the 64-byte code array
    plus its sum (a cheap per-row checksum).

    ZERO shuffles: quantization is a per-row projection (three
    zip_with/transform passes over literal arrays, entirely inside
    whole-stage codegen); the orderBy is the gate's presentation sort.
    At 100 TB this is a map-only rewrite of the embedding column —
    the same shape as embedding_pq_codes, trading 8× vs 4×
    compression for zero training and exact per-dim reconstruction
    bounds. Codes are exact-integer cross-engine (floor of
    bit-identical doubles)."""
    mins, scales = _sq8_params()
    emb = load(spark, sf_dir, "embeddings")
    codes = SIM.sq8_codes_col(F.col("embedding"), list(mins), list(scales))
    return (
        emb.select(
            "vec_id",
            F.array_join(codes, ",").alias("codes_csv"),
            F.aggregate(
                codes, F.lit(0).cast("bigint"), lambda acc, v: acc + v
            ).alias("code_sum"),
        )
        .orderBy("vec_id")
    )


def _sq8_sdc_oracle() -> str:
    q = "[" + ", ".join(str(c) for c in _sq8_qcodes()) + "]::BIGINT[]"
    return f"""
    WITH c AS (SELECT vec_id, {_sq8_codes_sql()} AS codes FROM embeddings)
    SELECT vec_id,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, 65),
               i -> (codes[i] - ({q})[i]) * (codes[i] - ({q})[i]))),
             (acc, v) -> acc + v) AS BIGINT) AS sdc_dist
    FROM c ORDER BY sdc_dist ASC, vec_id ASC LIMIT 10
    """


@query("ann_sq8_sdc_topk", oracle=_sq8_sdc_oracle)
def ann_sq8_sdc_topk(spark, sf_dir):
    """ANN top-10 over SQ8 codes with symmetric distance: the query is
    quantized ONCE driver-side with the same (min, scale) literals,
    then every candidate costs 64 integer subtract-square-adds — no
    floats anywhere in the hot loop (FAISS's SDC mode for scalar
    quantizers, which is also the SIMD-friendly form a codegen engine
    vectorizes). Distance is exact BIGINT, so the gate hash needs no
    tolerance; ties break by vec_id.

    Scale shape: linear scan → per-partition top-k →
    TakeOrderedAndProject driver merge, identical to ann_cosine_topk
    but touching 64 bytes + 64 int ops per row instead of 256 bytes +
    128 double ops — on a stored-codes table (ann_pq_stored_topk
    precedent) the scan would read ONLY (vec_id, codes)."""
    mins, scales = _sq8_params()
    emb = load(spark, sf_dir, "embeddings")
    codes = SIM.sq8_codes_col(F.col("embedding"), list(mins), list(scales))
    return (
        emb.select(
            "vec_id",
            SIM.sq8_sdc_dist_col(codes, _sq8_qcodes()).alias("sdc_dist"),
        )
        .orderBy(F.asc("sdc_dist"), F.asc("vec_id"))
        .limit(10)
    )


def _ivf_recall_oracle() -> str:
    """Recall-sweep mirror over the _ivf_oracle machinery: one scored
    CTE (assignment CASE + rounded query cosine), the exact top-10,
    and a per-n_probe UNION ALL of probe-restricted top-10s, hits
    counted by LEFT JOIN so every sweep point emits a row even at 0
    hits."""
    import math

    cents = _centroids()
    q = _query_vec()

    def py_cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return d / n if n else float("-inf")

    order = sorted(range(len(cents)), key=lambda i: -py_cos(cents[i], q))
    score_cols = []
    for i, c in enumerate(cents):
        cc = "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"
        dot = _dot_sql("e.embedding", cc)
        nrm = f"sqrt({_dot_sql('e.embedding', 'e.embedding')}) * sqrt({_dot_sql(cc, cc)})"
        score_cols.append(f"{dot} / ({nrm}) AS s{i}")
    n = len(cents)
    gmax = "greatest(" + ", ".join(f"s{i}" for i in range(n)) + ")"
    idx_case = (
        "CASE "
        + " ".join(f"WHEN s{i} >= {gmax} THEN {i}" for i in range(n))
        + " END"
    )
    qv = _vec_sql_literal(_query_vec())
    qdot = _dot_sql("e.embedding", "q.qv")
    qn = f"sqrt({_dot_sql('e.embedding', 'e.embedding')}) * sqrt({_dot_sql('q.qv', 'q.qv')})"
    sweeps = []
    for p in (1, 2, 4, 8):
        plist = ", ".join(str(i) for i in order[:p])
        sweeps.append(
            f"(SELECT {p} AS n_probe, vec_id FROM assigned "
            f"WHERE part IN ({plist}) ORDER BY score DESC, vec_id LIMIT 10)"
        )
    cand = " UNION ALL ".join(sweeps)
    return f"""
    WITH q AS (SELECT {qv} AS qv),
    scored AS (
      SELECT e.vec_id, {", ".join(score_cols)},
             round({qdot} / ({qn}), 6) AS score
      FROM embeddings e, q
    ),
    assigned AS (SELECT vec_id, score, {idx_case} AS part FROM scored),
    ex AS (SELECT vec_id FROM assigned ORDER BY score DESC, vec_id LIMIT 10),
    cand AS ({cand})
    SELECT CAST(cand.n_probe AS BIGINT) AS n_probe,
           CAST(count(ex.vec_id) AS BIGINT) AS hits
    FROM cand LEFT JOIN ex USING (vec_id)
    GROUP BY cand.n_probe ORDER BY n_probe
    """


@query("ann_ivf_recall_at_nprobe", oracle=_ivf_recall_oracle)
def ann_ivf_recall_at_nprobe(spark, sf_dir):
    """The n_probe tuning curve for the IVF read path: recall@10 at
    n_probe ∈ {1, 2, 4, 8} over the 8-centroid coarse quantizer — the
    companion to ann_pq_recall_at_k (that sweep tunes the PQ
    shortlist; this one tunes how many inverted lists a query visits,
    the other production ANN knob). n_probe = 8 scans every list, so
    the curve ends at 10/10 by construction — a cheap built-in sanity
    row — and is monotone nondecreasing in between (asserted in
    pytest, with the probe ORDER fixed by query-to-centroid cosine).

    One scored projection (assignment argmax + rounded query cosine)
    feeds all five top-10s; each sweep point is a
    TakeOrderedAndProject over a probe-restricted filter, and the hit
    count joins 40 candidate rows against 10 exact ids — post-limit
    work is O(sweep·k) at ANY corpus scale. At 100 TB the scored
    projection is the one full scan (a tuning job runs it once and
    caches; the pruned-layout twin ann_ivf_pruned_topk shows the
    per-query physical form where each sweep point reads only its
    probe directories)."""
    import math
    from functools import reduce

    cents = [list(c) for c in _centroids()]
    q = list(_query_vec())

    def py_cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return d / n if n else float("-inf")

    order = sorted(range(len(cents)), key=lambda i: -py_cos(cents[i], q))
    qcol = F.array(*[F.lit(float(x)) for x in q])
    scored = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        SIM.ivf_assign("embedding", cents).alias("part"),
        F.round(SIM.cosine(F.col("embedding"), qcol), 6).alias("score"),
    )
    exact = (
        scored.orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.lit(1).alias("hit"))
    )
    sweeps = [
        scored.filter(F.col("part").isin(order[:p]))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
        .select(F.lit(p).cast("bigint").alias("n_probe"), "vec_id")
        for p in (1, 2, 4, 8)
    ]
    cand = reduce(lambda a, b: a.unionAll(b), sweeps)
    return (
        cand.join(exact, "vec_id", "left")
        .groupBy("n_probe")
        .agg(F.count("hit").cast("bigint").alias("hits"))
        .orderBy("n_probe")
    )


@query("ann_sq8_stored_topk", oracle=_sq8_sdc_oracle)
def ann_sq8_stored_topk(spark, sf_dir):
    """The SQ8 production read path: write the codes table once
    (write_sq8_codes — params carry the quantizer
    fingerprint), then answer the query from the STORED codes only —
    the scan reads (vec_id, codes), 64 bytes + id per row, never the
    raw embeddings (plan-pinned). SHARES ann_sq8_sdc_topk's oracle:
    the storage layout must not change the answer — a single flipped
    code anywhere in the write path turns this row red. Completes the
    SQ8 lifecycle the PQ family already has: params (driver train) →
    encode → STORE → search; quantizer drift between write and read
    raises via the stored fingerprint."""
    import os
    import tempfile

    mins, scales = _sq8_params()
    emb = load(spark, sf_dir, "embeddings")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_sq8_{tag}")
    SIM.write_sq8_codes(emb, path, list(mins), list(scales))
    return SIM.sq8_sdc_topk_stored(
        spark, path, _sq8_qcodes(), list(mins), list(scales), k=10
    )


def _sq8_recall_oracle() -> str:
    q = "[" + ", ".join(str(c) for c in _sq8_qcodes()) + "]::BIGINT[]"
    qlit = _vec_sql_literal(_query_vec())
    dot = _dot_sql("e.embedding", "q.qv")
    norm_e = f"sqrt({_dot_sql('e.embedding', 'e.embedding')})"
    norm_q = f"sqrt({_dot_sql('q.qv', 'q.qv')})"
    return f"""
    WITH c AS (SELECT vec_id, {_sq8_codes_sql()} AS codes FROM embeddings),
    d AS (
      SELECT vec_id,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, 65),
                 i -> (codes[i] - ({q})[i]) * (codes[i] - ({q})[i]))),
               (acc, v) -> acc + v) AS BIGINT) AS sdc
      FROM c),
    a AS (SELECT vec_id, row_number() OVER (ORDER BY sdc, vec_id) AS ra FROM d),
    q AS (SELECT {qlit} AS qv),
    ex AS (
      SELECT e.vec_id FROM embeddings e, q
      ORDER BY round({dot} / ({norm_e} * {norm_q}), 6) DESC, e.vec_id
      LIMIT 10
    ),
    hit AS (SELECT a.ra FROM a JOIN ex USING (vec_id)),
    ks AS (SELECT unnest([10, 25, 50, 100]) AS k_prime)
    SELECT CAST(ks.k_prime AS BIGINT) AS k_prime,
           CAST(count(hit.ra) AS BIGINT) AS hits
    FROM ks LEFT JOIN hit ON hit.ra <= ks.k_prime
    GROUP BY ks.k_prime ORDER BY k_prime
    """


@query("ann_sq8_recall_at_k", oracle=_sq8_recall_oracle)
def ann_sq8_recall_at_k(spark, sf_dir):
    """Recall@10 of the SQ8 symmetric-distance shortlist at
    k′ ∈ {10, 25, 50, 100} vs exact cosine — the evaluation row that
    closes the SQ8 lifecycle (params → encode → store → search →
    EVALUATE), and the number that justifies SQ8's place on the
    memory ladder: 8-bit-per-dim distances preserve far more of the
    exact ranking than the deliberately coarse 4×8 PQ codebook —
    measured at sf0.01 the SQ8 curve is 9/10 at k′=10 and 10/10 from
    k′=25, vs the PQ curve's 2/10 → 8/10 over a 20× wider sweep
    (ann_pq_recall_at_k). The
    pq_recall_at_k scale shape: shortlist = orderBy+limit
    (TakeOrderedAndProject, never a global sort), the rank window
    runs AFTER the limit (≤ max k′ rows), hit join + k′ fanout are
    driver-scale."""
    from pyspark.sql import Window as W

    mins, scales = _sq8_params()
    ks = (10, 25, 50, 100)
    emb = load(spark, sf_dir, "embeddings")
    codes = SIM.sq8_codes_col(F.col("embedding"), list(mins), list(scales))
    shortlist = (
        emb.select(
            "vec_id", SIM.sq8_sdc_dist_col(codes, _sq8_qcodes()).alias("_sd")
        )
        .orderBy(F.asc_nulls_last("_sd"), F.asc("vec_id"))
        .limit(max(ks))
    )
    ranked = shortlist.withColumn(
        "_ra",
        F.row_number().over(W.orderBy(F.asc_nulls_last("_sd"), F.asc("vec_id"))),
    )
    exact = SIM.cosine_topk(emb, list(_query_vec()), k=10).select("vec_id")
    hit = ranked.join(exact, "vec_id").select("_ra")
    kdf = parallelize(spark, [(x,) for x in ks], "k_prime bigint not null")
    return (
        kdf.join(hit, F.col("_ra") <= F.col("k_prime"), "left")
        .groupBy("k_prime")
        .agg(F.count("_ra").cast("bigint").alias("hits"))
        .orderBy("k_prime")
    )


@query("ann_sq8_append_topk", oracle=_sq8_sdc_oracle)
def ann_sq8_append_topk(spark, sf_dir):
    """The SQ8 daily-crawl lifecycle as one gate row (the
    ann_pq_append_topk discipline): write the codes table from the
    base corpus (vec_id % 3 ≠ 0), APPEND the new batch (% 3 = 0) via
    append_sq8_codes — quantizer-fingerprint-checked, first-writer-
    wins anti-join — re-append the SAME batch (must add 0 rows:
    idempotent re-delivery), then answer the SDC top-10 from the
    stored codes. Codes are deterministic in (vector, params), so
    write → append → query must equal the one-shot inline ranking —
    the entry SHARES ann_sq8_sdc_topk's oracle: a single changed code
    anywhere in the append path turns this row red."""
    import os
    import tempfile

    mins, scales = _sq8_params()
    emb = load(spark, sf_dir, "embeddings")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_sq8_app_{tag}")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    batch = emb.filter(F.col("vec_id") % 3 == 0)
    SIM.write_sq8_codes(base, path, list(mins), list(scales))
    SIM.append_sq8_codes(batch, path, list(mins), list(scales))
    n_redelivered = SIM.append_sq8_codes(batch, path, list(mins), list(scales))
    if n_redelivered != 0:
        raise AssertionError(
            f"append_sq8_codes re-delivery appended {n_redelivered} rows — "
            "first-writer-wins anti-join must make re-sent batches no-ops"
        )
    return SIM.sq8_sdc_topk_stored(
        spark, path, _sq8_qcodes(), list(mins), list(scales), k=10
    )


def _pq_delete_oracle() -> str:
    """ADC mirror over the corpus MINUS the takedown ids (vec_id % 7 =
    0): the stored table after delete must answer exactly as if the
    deleted vectors never existed."""
    inner, adist = _adc_sql_parts()
    return f"""
    WITH d AS (SELECT vec_id, {inner} FROM embeddings
               WHERE vec_id % 7 <> 0)
    SELECT vec_id, round(adist, 5) AS adist FROM (
      SELECT vec_id, {adist} AS adist FROM d
    ) ORDER BY adist, vec_id LIMIT 10
    """


@query("ann_pq_delete_topk", oracle=_pq_delete_oracle)
def ann_pq_delete_topk(spark, sf_dir):
    """The TAKEDOWN lifecycle row (write → DELETE → query): build the
    full PQ codes index, delete the removal batch (vec_id % 7 = 0 —
    the DMCA/GDPR/contamination shape), answer the ADC top-10 from
    the survivors. The oracle scores the corpus WITHOUT the deleted
    ids from scratch, so the row is red if a deleted vector still
    ranks OR a survivor's codes were disturbed by the rewrite. A
    double delete must remove 0 rows (idempotent, asserted inline);
    delete ≡ rebuild-without is asserted in tests/test_operators.py.
    Completes the stored-index CRUD the catalog's ANN families now
    cover: write, append (batch + streaming), delete, query."""
    import os
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    cents = [list(c) for c in _centroids()[:4]]
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_pq_del_{tag}")
    SIM.write_pq_codes(emb, path, cents, num_sub=8)
    ids = [r["vec_id"] for r in emb.filter(F.col("vec_id") % 7 == 0).select("vec_id").collect()]
    SIM.delete_pq_codes(spark, path, ids)
    n_again = SIM.delete_pq_codes(spark, path, ids)
    if n_again != 0:
        raise AssertionError(
            f"double delete removed {n_again} rows — takedown must be "
            "idempotent"
        )
    return SIM.pq_adc_topk_stored(spark, path, list(_query_vec()), cents, k=10)


@lru_cache(maxsize=None)
def _query_vecs(n: int = 4, sf_dir: str = _SF_ORACLE) -> tuple[tuple[float, ...], ...]:
    """The first ``n`` embeddings (vec_id 0..n-1) as float64 literals —
    the bounded QUERY BATCH for the multi-query entries."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
    )
    by_id = dict(zip(t["vec_id"].to_pylist(), t["embedding"].to_pylist()))
    return tuple(
        tuple(float(x) for x in by_id[i]) for i in range(n)
    )


def _batch_topk_oracle() -> str:
    parts = []
    for qid, q in enumerate(_query_vecs()):
        qv = _vec_sql_literal(q)
        dot = _dot_sql("e.embedding", f"({qv})")
        norm_e = f"sqrt({_dot_sql('e.embedding', 'e.embedding')})"
        norm_q = f"sqrt({_dot_sql(f'({qv})', f'({qv})')})"
        parts.append(
            f"""(SELECT {qid} AS query_id, e.vec_id,
                  round({dot} / ({norm_e} * {norm_q}), 6) AS score
           FROM embeddings e
           ORDER BY score DESC, e.vec_id ASC LIMIT 5)"""
        )
    union = " UNION ALL ".join(parts)
    return f"""
    SELECT CAST(query_id AS BIGINT) AS query_id, vec_id, score
    FROM ({union}) t ORDER BY query_id, score DESC, vec_id
    """


@query("ann_cosine_topk_batch", oracle=_batch_topk_oracle)
def ann_cosine_topk_batch(spark, sf_dir):
    """BATCHED exact ANN — top-5 per query for a 4-query batch in ONE
    corpus pass: the production scoring shape (a retrieval service
    amortizes the scan across the whole query batch; per-query scans
    would read the corpus Q times). The bounded query table enters as
    an explicit broadcast (literal-built, n_queries rows), each corpus
    row scores against all queries after the broadcast join, and the
    per-query top-k is a row_number window PARTITIONED BY query_id —
    the window shuffles (query_id, vec_id, score) triples only, never
    embeddings, and partitioning by query_id spreads the rank work
    across the cluster (no single-partition window). Oracle: per-query
    ORDER BY/LIMIT union over the same literals — two different top-k
    formulations must agree exactly on the rounded scores."""
    from pyspark.sql import Window as W

    emb = load(spark, sf_dir, "embeddings")
    qdf = F.broadcast(
        parallelize(
            spark,
            [(qid, [float(x) for x in q]) for qid, q in enumerate(_query_vecs())],
            "query_id bigint not null, qv array<double> not null",
        )
    )
    scored = emb.join(qdf).select(
        "query_id",
        "vec_id",
        F.round(SIM.cosine(F.col("embedding"), F.col("qv")), 6).alias(
            "score"
        ),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .select("query_id", "vec_id", "score")
        .orderBy("query_id", F.desc("score"), "vec_id")
    )


def _hybrid_rrf_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    q = _vec_sql_literal(_query_vec())
    dot = _dot_sql("e.embedding", "q.qv")
    norm_e = f"sqrt({_dot_sql('e.embedding', 'e.embedding')})"
    norm_q = f"sqrt({_dot_sql('q.qv', 'q.qv')})"
    return f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\\s+'),
                                t -> t <> '')) AS t
      FROM documents),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
           FROM tok GROUP BY doc_id),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) // CAST(count(*) AS BIGINT)
                       AS avgdl
              FROM dl),
    tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
           FROM tok WHERE t IN ({terms}) GROUP BY doc_id, t),
    df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
    contrib AS (
      SELECT tf.doc_id,
             (((1000000 * (s.n_docs - df.df + 1)) // (df.df + 1))
               * 2200 * tf.tf * s.avgdl)
               // (1000 * s.avgdl * tf.tf + 300 * s.avgdl + 900 * dl.dl)
               AS c
      FROM tf JOIN df USING (t) JOIN dl USING (doc_id), stats s),
    lex AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_ppm
            FROM contrib GROUP BY doc_id
            ORDER BY score_ppm DESC, doc_id ASC LIMIT 20),
    lexr AS (SELECT doc_id,
                    row_number() OVER (ORDER BY score_ppm DESC, doc_id ASC)
                      AS lex_rank
             FROM lex),
    q AS (SELECT {q} AS qv),
    den AS (SELECT e.vec_id AS doc_id,
                   round({dot} / ({norm_e} * {norm_q}), 6) AS score
            FROM embeddings e, q
            ORDER BY score DESC, e.vec_id ASC LIMIT 20),
    denr AS (SELECT doc_id,
                    row_number() OVER (ORDER BY score DESC, doc_id ASC)
                      AS dense_rank
             FROM den),
    fused AS (
      SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
             coalesce(1000000 // (60 + l.lex_rank), 0)
               + coalesce(1000000 // (60 + r.dense_rank), 0) AS rrf_ppm,
             l.lex_rank AS lex_rank, r.dense_rank AS dense_rank
      FROM lexr l FULL JOIN denr r ON l.doc_id = r.doc_id)
    SELECT doc_id, CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(dense_rank AS BIGINT) AS dense_rank
    FROM fused ORDER BY rrf_ppm DESC, doc_id ASC LIMIT 10
    """


@query("ann_hybrid_rrf", oracle=_hybrid_rrf_oracle)
def ann_hybrid_rrf(spark, sf_dir):
    """Hybrid lexical+dense retrieval via Reciprocal Rank Fusion
    (Cormack et al. SIGIR'09): fuse the BM25-shaped integer top-20
    (the bm25_topk arm, term query over documents) with the exact
    cosine top-20 (the ann_cosine_topk arm, query vector over
    embeddings; vec_id IS the document id in this corpus) by
    rrf_ppm = Σ_arms 1e6 DIV (60 + rank) — the standard production RAG
    read path where neither arm alone ranks well. RRF is computed in
    exact integer arithmetic (1e6 DIV (60+r) keeps ranks 1..20
    distinct), so the fusion is hash-portable; a doc present in one
    arm gets only that arm's contribution (standard RRF). Output:
    top-10 (doc_id, rrf_ppm, lex_rank, dense_rank) with NULL rank for
    the missing arm.

    100 TB shape: each arm is already a bounded TakeOrderedAndProject
    top-k′ (lexical: term-filtered postings, broadcast df/stats;
    dense: broadcast query, per-partition top-k) — the fusion join
    touches 2·k′ rows, so the hybrid costs exactly the two arms. The
    single-partition rank windows cover k′ = 20 rows, bounded by
    construction."""
    from pyspark.sql import Window as W

    kprime, c = 20, 60
    lex = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("score_ppm"), F.asc("doc_id"))
        .limit(kprime)
    )
    lexr = lex.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("score_ppm"), F.asc("doc_id")))
        .cast("bigint")
        .alias("lex_rank"),
    )
    den = SIM.cosine_topk(
        load(spark, sf_dir, "embeddings"), list(_query_vec()), k=kprime
    ).withColumnRenamed("vec_id", "doc_id")
    denr = den.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.desc("score"), F.asc("doc_id")))
        .cast("bigint")
        .alias("dense_rank"),
    )
    fused = lexr.join(denr, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(F.expr(f"1000000 DIV ({c} + lex_rank)"), F.lit(0))
            + F.coalesce(F.expr(f"1000000 DIV ({c} + dense_rank)"), F.lit(0))
        ).alias("rrf_ppm"),
        "lex_rank",
        "dense_rank",
    )
    return fused.orderBy(F.desc("rrf_ppm"), F.asc("doc_id")).limit(10)


def _matryoshka_recall_oracle() -> str:
    """Prefix-dim recall sweep: one CTE per prefix width d with the
    d-term rounded cosine (same left-to-right double fold as the Spark
    aggregate), exact = the 64-dim arm, hits via LEFT JOIN."""

    def pdot(a: str, b: str, d: int) -> str:
        return (
            f"list_reduce(list_prepend(0.0, "
            f"list_transform(range(1, {d + 1}), "
            f"i -> CAST(({a})[i] AS DOUBLE) * CAST(({b})[i] AS DOUBLE))), "
            f"(acc, v) -> acc + v)"
        )

    qv = _vec_sql_literal(_query_vec())
    arms = []
    for d in (8, 16, 32, 64):
        dot = pdot("e.embedding", "q.qv", d)
        nrm = (
            f"sqrt({pdot('e.embedding', 'e.embedding', d)})"
            f" * sqrt({pdot('q.qv', 'q.qv', d)})"
        )
        arms.append(
            f"(SELECT {d} AS prefix_dim, vec_id FROM "
            f"(SELECT e.vec_id, round({dot} / ({nrm}), 6) AS s"
            f" FROM embeddings e, q)"
            f" ORDER BY s DESC, vec_id ASC LIMIT 10)"
        )
    cand = " UNION ALL ".join(arms)
    ex_dot = pdot("e.embedding", "q.qv", 64)
    ex_nrm = (
        f"sqrt({pdot('e.embedding', 'e.embedding', 64)})"
        f" * sqrt({pdot('q.qv', 'q.qv', 64)})"
    )
    return f"""
    WITH q AS (SELECT {qv} AS qv),
    ex AS (SELECT e.vec_id FROM embeddings e, q
           ORDER BY round({ex_dot} / ({ex_nrm}), 6) DESC, e.vec_id ASC
           LIMIT 10),
    cand AS ({cand})
    SELECT CAST(cand.prefix_dim AS BIGINT) AS prefix_dim,
           CAST(count(ex.vec_id) AS BIGINT) AS hits
    FROM cand LEFT JOIN ex USING (vec_id)
    GROUP BY cand.prefix_dim ORDER BY prefix_dim
    """


@query("embedding_matryoshka_recall", oracle=_matryoshka_recall_oracle)
def embedding_matryoshka_recall(spark, sf_dir):
    """Matryoshka prefix-dimension quality curve (Kusupati et al.
    NeurIPS'22, "Matryoshka Representation Learning"): recall@10 of
    cosine retrieval restricted to the first d dimensions, d ∈
    {8, 16, 32, 64}, against the full 64-dim exact top-10. This is the
    third production ANN tuning knob next to the PQ shortlist
    (ann_pq_recall_at_k) and the IVF probe count
    (ann_ivf_recall_at_nprobe): MRL-style indexes store the prefix and
    fetch 8× less per row — the curve says what that truncation costs
    on THIS corpus (synthetic embeddings aren't MRL-trained, so the
    low-d arms measure honest degradation, not MRL's near-lossless
    ideal). d = 64 is the exact arm itself — 10/10 by construction,
    the built-in sanity row.

    One embeddings scan feeds all four arms (each a prefix-sliced
    cosine + TakeOrderedAndProject); hit counting joins 40 candidate
    rows against 10 exact ids — post-limit work is O(sweep·k) at any
    corpus scale, and the prefix slice means a physical prefix-column
    layout would read d/64 of the vector bytes."""
    from functools import reduce

    q = list(_query_vec())
    qcol = F.array(*[F.lit(float(x)) for x in q])
    emb = load(spark, sf_dir, "embeddings")
    exact = (
        emb.select(
            "vec_id",
            F.round(SIM.cosine(F.col("embedding"), qcol), 6).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.lit(1).alias("hit"))
    )
    arms = [
        emb.select(
            "vec_id",
            F.round(
                SIM.cosine(
                    F.slice(F.col("embedding"), 1, d), F.slice(qcol, 1, d)
                ),
                6,
            ).alias("s"),
        )
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(10)
        .select(F.lit(d).cast("bigint").alias("prefix_dim"), "vec_id")
        for d in (8, 16, 32, 64)
    ]
    cand = reduce(lambda a, b: a.unionAll(b), arms)
    return (
        cand.join(exact, "vec_id", "left")
        .groupBy("prefix_dim")
        .agg(F.count("hit").cast("bigint").alias("hits"))
        .orderBy("prefix_dim")
    )


def _perceptron_oracle() -> str:
    """4 unrolled batch-perceptron rounds in SQL: the exact integer
    recurrence perceptron_train runs as a driver loop. Round 1's z is
    identically 0 (w starts at 0), so every row is a mistake and
    w1 = Σ y·x; later rounds cross-join the previous round's 64 weight
    scalars, score z once per row, and fold the mistake-masked sums."""
    t = _teacher_ppm()
    dim = len(t)
    xs = ", ".join(
        f"CAST(round(CAST(embedding[{j + 1}] AS DOUBLE) * 1000000) AS BIGINT)"
        f" AS x{j}"
        for j in range(dim)
    )
    tdot = " + ".join(f"({t[j]}) * x{j}" for j in range(dim))
    g1 = ", ".join(f"sum(y * x{j}) AS w{j}" for j in range(dim))
    rounds = [
        f"r1 AS (SELECT {g1}, CAST(count(*) AS BIGINT) AS m FROM base)"
    ]
    for k in (2, 3, 4):
        z = " + ".join(f"r.w{j} * b.x{j}" for j in range(dim))
        pw = ", ".join(f"r.w{j} AS pw{j}" for j in range(dim))
        upd = ", ".join(
            f"max(pw{j}) + sum(CASE WHEN y * z <= 0 THEN y * x{j} ELSE 0 END)"
            f" AS w{j}"
            for j in range(dim)
        )
        rounds.append(
            f"s{k} AS (SELECT b.*, {pw}, ({z}) AS z"
            f" FROM base b CROSS JOIN r{k - 1} r), "
            f"r{k} AS (SELECT {upd}, "
            f"CAST(sum(CASE WHEN y * z <= 0 THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS m FROM s{k})"
        )
    l1 = " + ".join(f"abs(w{j})" for j in range(dim))
    finals = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS iter, m AS n_mistakes,"
        f" CAST({l1} AS BIGINT) AS w_l1 FROM r{k}"
        for k in (1, 2, 3, 4)
    )
    return f"""
    WITH bx AS (SELECT {xs} FROM embeddings),
    base AS (SELECT *, CASE WHEN ({tdot}) > 0 THEN 1 ELSE -1 END AS y
             FROM bx),
    {", ".join(rounds)}
    SELECT * FROM ({finals}) ORDER BY iter
    """


@lru_cache(maxsize=None)
def _teacher_ppm() -> tuple[int, ...]:
    """The planted linear teacher: the first deterministic md5-derived
    hyperplane (the same public machinery the LSH family uses),
    ppm-quantized so both engines label with exact integers."""
    return tuple(
        int(round(v * 1_000_000)) for v in SIM.hyperplanes(1, 64)[0]
    )


@query("embedding_perceptron_probe", oracle=_perceptron_oracle)
def embedding_perceptron_probe(spark, sf_dir):
    """Train a linear probe on the embedding corpus with a distributed
    batch perceptron — 4 synchronous rounds of exact-integer
    mistake-driven updates against a planted linear teacher
    (y = sign(teacher · x), teacher = the deterministic md5 hyperplane)
    — and emit the learning curve: (iter, n_mistakes, w_l1). Mistakes
    drop 500 → 45 → 24 → 20 at sf0.01 (the probe RECOVERS the teacher,
    cos ≈ 0.96 — the corpus's own labels are measured not linearly
    separable, so a teacher-student probe is the honest learnable
    task). This is the iterative-ML family member next to
    embedding_kmeans_iter (unsupervised) and pq_train_codebook_iter
    (quantization): supervised training as a driver loop of one-scan
    aggregate rounds, oracle-checked by 4 unrolled SQL CTE rounds
    because every step is associative BIGINT arithmetic. See
    operators/similarity.py perceptron_train for the overflow bound
    and the no-bias/no-sigmoid design rationale."""
    return SIM.perceptron_train(
        load(spark, sf_dir, "embeddings"),
        list(_teacher_ppm()),
        iterations=4,
    )


@query(
    "ann_ivfpq_delete_topk",
    oracle=lambda: _ivfpq_oracle("WHERE e.vec_id % 7 <> 0"),
)
def ann_ivfpq_delete_topk(spark, sf_dir):
    """The takedown row for the COMPOSED index (write → DELETE → query
    on the IVF-PQ layout): build the full partitioned index, delete
    the vec_id % 7 = 0 batch — which rewrites ONLY the inverted lists
    containing those ids and drops any list the delete emptied — then
    answer the n_probe=2 ADC top-10 from the survivors. The oracle
    scores rebuild-without-the-ids from scratch, so the row is red if
    a deleted vector still ranks, a survivor's codes were disturbed,
    or an emptied partition directory leaked back into the probe. A
    double delete must remove 0 rows (idempotent, asserted inline);
    delete ≡ rebuild-without is asserted in tests/test_operators.py.
    With this row every stored ANN layout (flat PQ, SQ8, IVF-PQ) has
    the full CRUD lifecycle officially value-checked."""
    import os
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    coarse = [list(c) for c in _centroids()]
    pq_cents = [list(c) for c in _centroids()[:4]]
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_ivfpq_del_{tag}")
    SIM.write_ivfpq_index(emb, path, coarse, pq_cents, num_sub=8)
    ids = [
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") % 7 == 0)
        .select("vec_id")
        .collect()
    ]
    SIM.delete_ivfpq_index(spark, path, ids)
    n_again = SIM.delete_ivfpq_index(spark, path, ids)
    if n_again != 0:
        raise AssertionError(
            f"double delete removed {n_again} rows — takedown must be "
            "idempotent"
        )
    return SIM.ivfpq_adc_topk(
        spark, path, list(_query_vec()), coarse, pq_cents, k=10, n_probe=2
    )


def _sq8_delete_oracle() -> str:
    """SDC mirror over the corpus MINUS the takedown ids: the stored
    SQ8 table after delete must answer as if they never existed."""
    q = "[" + ", ".join(str(c) for c in _sq8_qcodes()) + "]::BIGINT[]"
    return f"""
    WITH c AS (SELECT vec_id, {_sq8_codes_sql()} AS codes FROM embeddings
               WHERE vec_id % 7 <> 0)
    SELECT vec_id,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, 65),
               i -> (codes[i] - ({q})[i]) * (codes[i] - ({q})[i]))),
             (acc, v) -> acc + v) AS BIGINT) AS sdc_dist
    FROM c ORDER BY sdc_dist ASC, vec_id ASC LIMIT 10
    """


@query("ann_sq8_delete_topk", oracle=_sq8_delete_oracle)
def ann_sq8_delete_topk(spark, sf_dir):
    """The SQ8 takedown row (write → DELETE → query), completing the
    last gap in the stored-ANN CRUD matrix: flat PQ, SQ8, and IVF-PQ
    each now have write, append, delete, and query value-checked.
    Build the full SQ8 codes table, delete the vec_id % 7 = 0 batch,
    answer the SDC top-10 from the survivors; the oracle scores
    rebuild-without from scratch, and a double delete must remove 0
    rows (asserted inline)."""
    import os
    import tempfile

    mins, scales = _sq8_params()
    emb = load(spark, sf_dir, "embeddings")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_sq8_del_{tag}")
    SIM.write_sq8_codes(emb, path, list(mins), list(scales))
    ids = [
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") % 7 == 0)
        .select("vec_id")
        .collect()
    ]
    SIM.delete_sq8_codes(spark, path, ids)
    n_again = SIM.delete_sq8_codes(spark, path, ids)
    if n_again != 0:
        raise AssertionError(
            f"double delete removed {n_again} rows — takedown must be "
            "idempotent"
        )
    return SIM.sq8_sdc_topk_stored(
        spark, path, _sq8_qcodes(), list(mins), list(scales), k=10
    )
