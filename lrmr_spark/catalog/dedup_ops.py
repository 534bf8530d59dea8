"""Deduplication catalog entries over the documents table.

The oracles re-express the full MinHash/SimHash/Jaccard algorithms in
DuckDB SQL using the same md5 primitive, so the correctness gate checks
the *algorithm*, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators import dedup as DD
from ..sources import parallelize
from ..tables import load
from . import query
from .oracle_util import grams_expr

_TOKS = "list_sort(list_distinct(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')))"


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on the canonical fingerprint. Only
    (hash, id) shuffles — document bodies never move."""
    return DD.exact_dedup(load(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "dedup_tokenset",
    oracle=f"""
    SELECT md5(array_to_string({_TOKS}, ' ')) AS fp,
           min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def dedup_tokenset(spark, sf_dir):
    """Token-set dedup: catches word-order shuffles of the same content
    (the corpus's 'dup' cluster) that exact dedup misses."""
    return DD.tokenset_dedup(load(spark, sf_dir, "documents"), "doc_id", "text")


_MULTISET_ITEMS_SQL = """
      SELECT doc_id AS _id, list_sort(list(tok || ':' || cnt)) AS items FROM (
        SELECT doc_id, tok, count(*) AS cnt FROM (
          SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS tok
          FROM documents) t GROUP BY doc_id, tok) c
      GROUP BY doc_id
"""

# k=3 shingles over the raw token stream (order-sensitive), matching
# operators.text.shingles: indices 1..max(n-3,0)+1, clamped. Built via
# oracle_util.grams_expr (explicit element concat, no bracket slices —
# slice semantics have drifted across DuckDB versions).
_SHINGLE_ITEMS_SQL = f"""
      SELECT doc_id AS _id,
             list_sort(list_distinct({grams_expr("toks", 3)})) AS items
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
            FROM documents) raw
"""


def _minhash_oracle(
    num_hashes: int = 16,
    bands: int = 2,
    threshold: float = 0.9,
    items_sql: str = _MULTISET_ITEMS_SQL,
) -> str:
    rows = num_hashes // bands
    sig_elems = ", ".join(
        f"list_min(list_transform(items, t -> md5('{s}:' || t)))" for s in range(num_hashes)
    )
    band_elems = ", ".join(
        "concat_ws('|', '%d', %s)" % (b, ", ".join(f"sig[{b * rows + r + 1}]" for r in range(rows)))
        for b in range(bands)
    )
    return f"""
    WITH items0 AS (
      {items_sql}
    ), reps AS (
      SELECT min(_id) AS _id, any_value(items) AS items
      FROM (SELECT _id, items, md5(array_to_string(items, ' ')) AS fp FROM items0) f
      GROUP BY fp
    ), sigs AS (
      SELECT _id, items, [{sig_elems}] AS sig FROM reps
    ), banded AS (
      SELECT _id, unnest([{band_elems}]) AS band FROM sigs
    ), cand AS (
      SELECT DISTINCT l._id AS id_a, r._id AS id_b
      FROM banded l JOIN banded r ON l.band = r.band AND l._id < r._id
    ), verified AS (
      SELECT id_a, id_b,
             round(len(list_intersect(a.items, b.items))
                   / CAST(len(list_distinct(list_concat(a.items, b.items))) AS DOUBLE), 4)
               AS jaccard
      FROM cand JOIN reps a ON cand.id_a = a._id JOIN reps b ON cand.id_b = b._id
    )
    SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= {threshold}
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(16)+LSH(2 bands of 8) near-dup representative pairs with
    exact-Jaccard verification over token-multiset items — the O(n·B)
    scale path for near-dedup. Identical multisets collapse to one
    representative before LSH (exact dups would otherwise rebuild the
    quadratic pair list), and the multiset representation keeps LSH
    buckets discriminative on this corpus's ~40-word vocabulary, where
    set-jaccard saturates and every doc would collide. The oracle runs
    the identical algorithm (same md5 seeds, banding, collapse) in
    DuckDB."""
    return DD.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        num_hashes=16, bands=2, threshold=0.9,
    )


def _minhash_shingle_oracle() -> str:
    return _minhash_oracle(threshold=0.8, items_sql=_SHINGLE_ITEMS_SQL)


@query("dedup_minhash_shingles", oracle=_minhash_shingle_oracle)
def dedup_minhash_shingles(spark, sf_dir):
    """MinHash+LSH over 3-token shingles — the order-sensitive standard
    web-crawl/LLM-corpus near-dedup configuration (catches boilerplate
    edits and truncations, deliberately ignores word-order shuffles —
    the complement of the multiset variant). Same fused codegen
    pipeline, items swapped."""
    return DD.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        num_hashes=16, bands=2, threshold=0.8, unit="shingles",
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH base AS (
      SELECT doc_id AS _id, {_TOKS} AS toks,
             len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS blk
      FROM documents
    )
    SELECT l._id AS id_a, r._id AS id_b,
           round(len(list_intersect(l.toks, r.toks))
                 / CAST(len(list_distinct(list_concat(l.toks, r.toks))) AS DOUBLE), 4)
             AS jaccard
    FROM base l JOIN base r ON l.blk = r.blk AND l._id < r._id
    WHERE round(len(list_intersect(l.toks, r.toks))
                / CAST(len(list_distinct(list_concat(l.toks, r.toks))) AS DOUBLE), 4) >= 0.8
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact token-set Jaccard pairs within token-count blocks (bounded
    cross product; the exact-measure counterpart to MinHash)."""
    return DD.jaccard_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.8
    )


_CONTAINMENT_ITEMS_SQL = f"""
      SELECT doc_id AS _id,
             list_sort(list_filter(list_distinct({grams_expr("toks", 3)}),
                                   g -> g <> '')) AS items
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
            FROM documents) raw
"""


@query(
    "dedup_containment",
    oracle=f"""
    WITH base AS (
      {_CONTAINMENT_ITEMS_SQL}
    ), reps AS (
      SELECT min(_id) AS _id, items
      FROM base WHERE len(items) > 0 GROUP BY items
    )
    SELECT l._id AS id_a, r._id AS id_b,
           round(len(list_intersect(l.items, r.items))
                 / CAST(least(len(l.items), len(r.items)) AS DOUBLE), 4)
             AS containment,
           round(len(list_intersect(l.items, r.items))
                 / CAST(len(list_distinct(list_concat(l.items, r.items))) AS DOUBLE), 4)
             AS jaccard
    FROM reps l JOIN reps r ON l._id < r._id
    WHERE round(len(list_intersect(l.items, r.items))
                / CAST(least(len(l.items), len(r.items)) AS DOUBLE), 4) >= 0.9
    """,
)
def dedup_containment(spark, sf_dir):
    """Set-containment near-dup pairs (C = |A∩B|/min sizes ≥ 0.9 over
    3-shingles) via rare-first prefix filtering — the lossless
    AllPairs/PPJoin candidate scheme. Catches the subset-duplication
    class (quoted inclusions, truncations, boilerplate wrappers) that
    symmetric Jaccard under-scores: a doc fully embedded in one 3× its
    size has C = 1.0 but J ≈ 0.33. The oracle verifies the *measure*
    with a blunt n² join — prefix pruning is provably lossless, so
    outputs must be identical."""
    return DD.containment_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text", threshold=0.9
    )


def _components_oracle() -> str:
    # transitive closure over the (undirected) MinHash pair graph via a
    # recursive CTE; component label = min reachable id
    pairs_sql = _minhash_oracle()
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    walk(id, reach) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, w.reach FROM edges e JOIN walk w ON e.b = w.id
    )
    SELECT id, min(reach) AS comp FROM walk GROUP BY id
    """


@query("dedup_components", oracle=_components_oracle)
def dedup_components(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the MinHash+LSH
    pair graph, every document labeled with its cluster's canonical
    (minimum) id — the final step of a real dedup pipeline ("keep one
    per cluster"), which pairwise output alone doesn't give when dups
    chain (A~B, B~C but A!~C). Distributed HashMin label propagation,
    O(diameter) rounds of (id, label) shuffles. The oracle computes the
    transitive closure with a recursive CTE over the identical pair
    SQL — two unrelated formulations of reachability must agree."""
    pairs = DD.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        num_hashes=16, bands=2, threshold=0.9,
    )
    return DD.connected_components(pairs)


@query("dedup_components_star", oracle=_components_oracle)
def dedup_components_star(spark, sf_dir):
    """The same cluster assignment computed by the alternating
    large-star/small-star algorithm (Kiveris et al., SoCC'14) — the
    O(log n)-round variant for adversarial high-diameter graphs, where
    HashMin needs O(diameter) rounds. Shares dedup_components'
    recursive-CTE oracle: two distributed algorithms and a SQL
    transitive closure must all agree on every label."""
    pairs = DD.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        num_hashes=16, bands=2, threshold=0.9,
    )
    return DD.connected_components(pairs, algorithm="star")


def _minhash_match_oracle(
    num_hashes: int = 16, bands: int = 2, threshold: float = 0.9
) -> str:
    rows = num_hashes // bands
    sig_elems = ", ".join(
        f"list_min(list_transform(items, t -> md5('{s}:' || t)))" for s in range(num_hashes)
    )
    band_elems = ", ".join(
        "concat_ws('|', '%d', %s)" % (b, ", ".join(f"sig[{b * rows + r + 1}]" for r in range(rows)))
        for b in range(bands)
    )
    return f"""
    WITH items0 AS (
      {_MULTISET_ITEMS_SQL}
    ),
    nreps AS (
      SELECT min(_id) AS _id, any_value(items) AS items
      FROM (SELECT _id, items, md5(array_to_string(items, ' ')) AS fp
            FROM items0 WHERE _id % 5 = 0) f
      GROUP BY fp
    ), breps AS (
      SELECT min(_id) AS _id, any_value(items) AS items
      FROM (SELECT _id, items, md5(array_to_string(items, ' ')) AS fp
            FROM items0 WHERE _id % 5 <> 0) f
      GROUP BY fp
    ), nsigs AS (
      SELECT _id, items, [{sig_elems}] AS sig FROM nreps
    ), bsigs AS (
      SELECT _id, items, [{sig_elems}] AS sig FROM breps
    ), nb AS (
      SELECT _id, unnest([{band_elems}]) AS band FROM nsigs
    ), bb AS (
      SELECT _id, unnest([{band_elems}]) AS band FROM bsigs
    ), cand AS (
      SELECT DISTINCT l._id AS new_id, r._id AS base_id
      FROM nb l JOIN bb r ON l.band = r.band
    ), verified AS (
      SELECT new_id, base_id,
             round(len(list_intersect(a.items, b.items))
                   / CAST(len(list_distinct(list_concat(a.items, b.items))) AS DOUBLE), 4)
               AS jaccard
      FROM cand JOIN nreps a ON cand.new_id = a._id
                JOIN breps b ON cand.base_id = b._id
    )
    SELECT new_id, base_id, jaccard FROM verified WHERE jaccard >= {threshold}
    """


@query("dedup_minhash_incremental", oracle=_minhash_match_oracle)
def dedup_minhash_incremental(spark, sf_dir):
    """Incremental NEAR-dedup: the day's new batch (doc_id MOD 5 = 0)
    matched against the accumulated corpus (the rest) — band keys of
    the new side join band keys of the base side only, never base
    against itself. The near-dup upgrade of dedup_incremental's
    exact-fingerprint anti-join: adding a crawl batch to a 100 TB
    corpus costs O(new·B) band rows, not corpus². Oracle runs the
    identical two-sided algorithm (same md5 seeds/banding/collapse)
    in DuckDB."""
    docs = load(spark, sf_dir, "documents")
    return DD.minhash_lsh_match(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        "doc_id",
        "text",
        num_hashes=16,
        bands=2,
        threshold=0.9,
    )


@query("dedup_minhash_stored_index", oracle=_minhash_match_oracle)
def dedup_minhash_stored_index(spark, sf_dir):
    """The production daily-crawl layout end-to-end: the accumulated
    corpus (doc_id MOD 5 <> 0) is materialized ONCE as an on-disk
    MinHash index (reps + band posting list + manifest params,
    operators.dedup.write_minhash_index), then the day's batch
    (doc_id MOD 5 = 0) is matched against the STORED index — only the
    new side is tokenized and hashed; the corpus side is two parquet
    scans. Same two-sided algorithm as dedup_minhash_incremental
    (shared oracle): the write→read round trip must not change a
    single emitted pair. At 100 TB the index is written by yesterday's
    job; here the query performs the write too, so the gate covers
    both halves. md5 path (fast=False) for oracle portability; the
    index defaults to xxhash64 in production."""
    import os
    import tempfile

    docs = load(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(
        tempfile.gettempdir(), f"lrmr_minhash_index_{tag}"
    )
    DD.write_minhash_index(
        docs.filter(F.col("doc_id") % 5 != 0),
        "doc_id",
        "text",
        path,
        num_hashes=16,
        bands=2,
        fast=False,
    )
    return DD.match_minhash_index(
        docs.filter(F.col("doc_id") % 5 == 0),
        path,
        "doc_id",
        "text",
        threshold=0.9,
    )


@query("dedup_minhash_index_append", oracle=_minhash_match_oracle)
def dedup_minhash_index_append(spark, sf_dir):
    """The daily-crawl WRITE loop end-to-end: day-1 corpus (lower-id
    half of doc_id MOD 5 <> 0) is materialized as a stored MinHash
    index, day-2 corpus (upper-id half) is FOLDED IN via
    append_minhash_index (first-writer-wins reps, narrow fingerprint
    anti-join against the stored reps), and the day-3 batch (doc_id
    MOD 5 = 0) matches against the appended index. Ids are monotone
    across the two days, so the appended index is provably identical
    to a full rebuild — which is why this entry SHARES
    dedup_minhash_stored_index's oracle: write→append→match must emit
    exactly the pairs the one-shot index does. md5 path for oracle
    portability."""
    import os
    import tempfile

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    lo, hi = corpus.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (lo + hi) // 2
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_minhash_append_{tag}")
    DD.write_minhash_index(
        corpus.filter(F.col("doc_id") <= mid),
        "doc_id",
        "text",
        path,
        num_hashes=16,
        bands=2,
        fast=False,
    )
    DD.append_minhash_index(
        corpus.filter(F.col("doc_id") > mid), path, "doc_id", "text"
    )
    return DD.match_minhash_index(
        docs.filter(F.col("doc_id") % 5 == 0), path, "doc_id", "text",
        threshold=0.9,
    )


@query("dedup_minhash_lsh_fast")  # rows-only: xxhash64 not reproducible in SQL
def dedup_minhash_lsh_fast(spark, sf_dir):
    """Production MinHash+LSH: identical collapse→band→verify plan to
    dedup_minhash_lsh but items hashed with JVM xxhash64 instead of md5
    hex strings — the 100 TB fast path (no hex materialization; the
    16 minima fold over plain longs). xxhash64 has no DuckDB-portable
    equivalent, so the driver records the rows-only check; precision is
    property-checked in tests/test_operators.py (every emitted pair's
    exact Jaccard ≥ threshold — banding only affects recall, never
    correctness of emitted pairs). Production banding: 4 bands of 4
    (collision probability 0.99 at j=0.9, vs 0.68 for the oracle
    variant's 2×8 configuration, which is pinned by SQL parity)."""
    return DD.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text",
        num_hashes=16, bands=4, threshold=0.9, fast=True,
    )


def _fast_vs_md5_oracle() -> str:
    pairs = _minhash_oracle(num_hashes=16, bands=4, threshold=0.9)
    return f"""
    SELECT id_a, id_b, jaccard,
           TRUE AS in_fast, TRUE AS in_md5
    FROM ({pairs})
    ORDER BY id_a, id_b
    """


@query("dedup_minhash_fast_vs_md5", oracle=_fast_vs_md5_oracle)
def dedup_minhash_fast_vs_md5(spark, sf_dir):
    """The production (xxhash64) MinHash path's correctness made
    VISIBLE in the official gate: run the fast path and the
    oracle-portable md5 path at the IDENTICAL config (16 hashes, 4
    bands, t=0.9), full-outer-join their pair sets, and emit every
    pair with in_fast/in_md5 membership flags. The oracle is the md5
    algorithm in SQL with both flags TRUE — so this row hash-matches
    IFF the two engines' pair sets are exactly equal, upgrading the
    fast path's gate evidence from rows-only to a value-checked
    equality (the pair-set equality tests/test_operators.py property-
    checks, now recorded per-round by the driver). The jaccard values
    agree by construction: both paths verify on the same multiset
    items, hashing only changes candidate generation.

    A future legitimate divergence (a near-threshold pair band-missed
    by one hash family but not the other) would turn this row red BY
    DESIGN — that is the event worth surfacing; banding recall, not
    emitted-pair precision, is the only probabilistic part of either
    path."""
    docs = load(spark, sf_dir, "documents")
    # tokenize/count ONCE, hash twice (r12): the two arms' item tables
    # are byte-identical (hashing is everything downstream), so the
    # shared frame is built and persisted once — persist, not
    # checkpoint, so hashpartitioning(_id) survives into both per-doc
    # signature aggregations (EXP_FAST_VS_MD5.json:
    # fingerprint-identical, every rep faster)
    items = DD._minhash_items(docs, "doc_id", "text", "multiset", 3).persist()
    fast = DD.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, threshold=0.9,
        fast=True, shared_items=items,
    )
    md5 = DD.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, threshold=0.9,
        fast=False, shared_items=items,
    )
    items.unpersist()  # both pair lists are eagerly checkpointed above
    f_, m_ = fast.alias("f"), md5.alias("m")
    return (
        f_.join(
            m_,
            (F.col("f.id_a") == F.col("m.id_a"))
            & (F.col("f.id_b") == F.col("m.id_b")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("f.id_a"), F.col("m.id_a")).alias("id_a"),
            F.coalesce(F.col("f.id_b"), F.col("m.id_b")).alias("id_b"),
            F.coalesce(F.col("m.jaccard"), F.col("f.jaccard")).alias("jaccard"),
            F.col("f.id_a").isNotNull().alias("in_fast"),
            F.col("m.id_a").isNotNull().alias("in_md5"),
        )
        .orderBy("id_a", "id_b")
    )


def _simhash_oracle() -> str:
    bits = []
    for j in range(1, 17):
        bits.append(
            f"CASE WHEN list_sum(list_transform(toks, t -> "
            f"CASE WHEN substr(md5(t), {j}, 1) IN "
            f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 "
            f"THEN '1' ELSE '0' END"
        )
    concat = " || ".join(bits)
    return f"""
    WITH base AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), sigs AS (
      SELECT doc_id, {concat} AS sig FROM base
    )
    SELECT sig, min(doc_id) AS keep_id, count(*) AS n_docs
    FROM sigs GROUP BY sig
    """


@query("dedup_simhash", oracle=_simhash_oracle)
def dedup_simhash(spark, sf_dir):
    """SimHash clustering: 16-bit portable signature (majority vote of
    md5 hex-digit bits over distinct tokens), grouped by signature.
    Production uses the same aggregate shape over 64 xxhash64 bits."""
    return DD.simhash_clusters(load(spark, sf_dir, "documents"), "doc_id", "text")


def _simhash_hamming_oracle() -> str:
    """simhash_hamming_pairs mirrored at k=3: the _simhash_oracle
    signature, identical-sig rep collapse, 4 contiguous 4-bit blocks,
    pigeonhole candidate join, exact 16-position Hamming verify."""
    bits = []
    for j in range(1, 17):
        bits.append(
            f"CASE WHEN list_sum(list_transform(toks, t -> "
            f"CASE WHEN substr(md5(t), {j}, 1) IN "
            f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0 "
            f"THEN '1' ELSE '0' END"
        )
    concat = " || ".join(bits)
    blk_elems = ", ".join(
        f"'{b}' || '|' || substr(sig, {b * 4 + 1}, 4)" for b in range(4)
    )
    hamming = " + ".join(
        f"CASE WHEN substr(sig_a, {j}, 1) <> substr(sig_b, {j}, 1) THEN 1 ELSE 0 END"
        for j in range(1, 17)
    )
    return f"""
    WITH base AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), sigs AS (
      SELECT doc_id, {concat} AS sig FROM base
    ), reps AS (
      SELECT min(doc_id) AS _id, sig FROM sigs GROUP BY sig
    ), banded AS (
      SELECT _id, sig, unnest([{blk_elems}]) AS blk FROM reps
    ), cand AS (
      SELECT DISTINCT l._id AS id_a, l.sig AS sig_a,
                      r._id AS id_b, r.sig AS sig_b
      FROM banded l JOIN banded r ON l.blk = r.blk AND l._id < r._id
    )
    SELECT id_a, id_b, CAST({hamming} AS INTEGER) AS hamming
    FROM cand WHERE ({hamming}) <= 3
    ORDER BY id_a, id_b
    """


@query("dedup_simhash_hamming", oracle=_simhash_hamming_oracle)
def dedup_simhash_hamming(spark, sf_dir):
    """SimHash NEAR-match pairs at Hamming distance ≤ 3 — the
    production simhash use (Manku et al., WWW'07: near-dup web pages
    differ in a few signature bits, not zero): signatures split into
    k+1 = 4 blocks, and any pair within distance 3 must agree exactly
    on ≥ 1 block (pigeonhole), so candidates come from block-key
    joins, never an all-pairs scan; each candidate is verified by
    exact Hamming distance — lossless for ≤ k. Identical signatures
    collapse to a representative first (the minhash_lsh_pairs
    discipline; identical-sig clusters are dedup_simhash's output).
    Portable 16-bit variant, oracle-mirrored block-by-block;
    simhash64_hamming_pairs is the 64-bit production path
    (bit_count(xor), property-tested vs the brute all-pairs scan)."""
    return (
        DD.simhash_hamming_pairs(
            load(spark, sf_dir, "documents"), "doc_id", "text", k=3
        )
        .orderBy("id_a", "id_b")
    )


@query("dedup_simhash_hamming_fast")  # rows-only: xxhash64 not in SQL
def dedup_simhash_hamming_fast(spark, sf_dir):
    """Production 64-bit SimHash near-match at Hamming ≤ 3: one bigint
    signature per doc (xxhash64 token bits), block keys are bit-field
    extracts riding the shuffle as 8-byte longs, verify is one JVM
    popcount — bit_count(sig_a XOR sig_b). Same pigeonhole banding as
    the oracle-checked 16-bit row (dedup_simhash_hamming pins the
    algorithm; this pins the fast path's plumbing). Not SQL-portable,
    so the driver records rows-only; the pair set is property-tested
    against the brute all-pairs Hamming scan in
    tests/test_operators.py.

    WHY NO fast-vs-twin VALUE ROW (the dedup_minhash_fast_vs_md5
    pattern): that gate row worked because the md5 and xxhash64
    MinHash paths run at an IDENTICAL config where both compute the
    same candidate semantics and the md5 side is SQL-expressible —
    the oracle states one side's pairs and equality makes the row
    green. Here the two variants hash DIFFERENT bit widths (16-bit
    md5-nibble votes vs 64-bit xxhash64 votes), so their signatures,
    block keys, and pair sets differ LEGITIMATELY — there is no
    config where the 64-bit path's pairs equal the portable twin's,
    and DuckDB has no xxhash64 to state the 64-bit side directly.
    The value check that IS possible — banded-vs-brute equality over
    the same 64-bit signatures, i.e. the pigeonhole losslessness
    claim checked on real corpus data — is the gate row
    dedup_simhash_fast_banding_lossless below."""
    return (
        DD.simhash64_hamming_pairs(
            load(spark, sf_dir, "documents"), "doc_id", "text", k=3
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "dedup_simhash_fast_banding_lossless",
    oracle="""
    SELECT CAST(-1 AS BIGINT) AS id_a, CAST(-1 AS BIGINT) AS id_b,
           CAST(0 AS INTEGER) AS hamming,
           TRUE AS in_banded, TRUE AS in_brute
    """,
)
def dedup_simhash_fast_banding_lossless(spark, sf_dir):
    """The 64-bit fast path's VALUE CHECK, recorded per-round by the
    driver: pigeonhole banding claims LOSSLESSNESS for Hamming ≤ k —
    every qualifying pair shares ≥ 1 of k+1 blocks — and this entry
    checks that claim on the real corpus by full-outer-joining the
    banded pair set against a brute all-pairs popcount over the SAME
    xxhash64 signatures, emitting one constant sentinel row plus any
    DISAGREEING pairs with membership flags. The oracle is the
    sentinel alone, so the row hash-matches IFF the two pair sets are
    exactly equal — any banding bug (wrong block bounds, off-by-one
    in the bit-field extract, a dropped rep) adds rows and turns the
    gate red. This is the strongest value check available for a path
    whose hash has no SQL twin (see dedup_simhash_hamming_fast's
    docstring for why a fast-vs-twin equality row is impossible);
    pair-level ground truth beyond it lives in the property tests.

    The brute side is O(reps²) BY DESIGN — it exists to contradict
    the banded side, and runs at validation scale (sf0.01/sf0.1:
    ≤ ~25 M popcounts over 8-byte longs). It is a diagnostic harness,
    never a production path; production traffic uses the banded entry
    this row certifies. A hard GUARD (r6 verdict task 3) refuses to
    build the quadratic arm past _BRUTE_REPS_BOUND distinct
    signatures, so a future gate run at corpus scale fails loudly
    instead of launching a reps² cross join."""
    docs = load(spark, sf_dir, "documents")
    diffs = _banding_vs_brute_diffs(docs, k=3)
    sentinel = parallelize(
        spark,
        [(-1, -1, 0, True, True)],
        "id_a bigint not null, id_b bigint not null, hamming int not null, "
        "in_banded boolean not null, in_brute boolean not null",
    )
    return sentinel.unionAll(diffs).orderBy("id_a", "id_b")


# validation-scale ceiling for the diagnostic brute arm: 1e5 reps is
# ~5e9 popcounts — minutes on one node, the outer edge of "diagnostic";
# past it the quadratic cost is a cluster accident, not a check
_BRUTE_REPS_BOUND = 100_000


def _banding_vs_brute_diffs(docs, k: int = 3, max_reps: int = _BRUTE_REPS_BOUND):
    """Disagreement rows between the banded Hamming-≤k pair set and a
    brute all-pairs popcount over the same xxhash64 signatures (empty
    ⇔ banding lossless on this corpus). Raises when the
    distinct-signature rep count exceeds ``max_reps`` — the brute arm
    is O(reps²) by design and must never run at corpus scale."""
    sigs = DD.simhash64(docs, "doc_id", "text").select(
        F.col("doc_id").alias("_id"), F.col("simhash").alias("_sig")
    )
    # materialize reps ONCE (r12): the signature pipeline (tokenize →
    # explode → 64-vote aggregate) otherwise re-runs for the guard
    # count, the banded arm, and BOTH brute cross-join sides — 3-4
    # data-proportional passes for one tiny (2-long) rep table. A
    # localCheckpoint (not persist) is deliberate: no downstream
    # consumer uses reps' hashpartitioning(_sig) — the banded arm
    # re-shuffles on _blk and the brute arm is a nested-loop cross —
    # and the checkpoint needs no unpersist hook after the caller's
    # lazy collect. Linear in docs, so it is safe to land BEFORE the
    # quadratic-arm guard below (the guard protects the cross join,
    # not this). Fingerprint-asserted identical pair set:
    # EXP_SIMHASH_LOSSLESS.json.
    reps = (
        sigs.groupBy("_sig").agg(F.min("_id").alias("_id"))
        .localCheckpoint(eager=True)
    )
    n_reps = reps.count()
    if n_reps > max_reps:
        raise ValueError(
            f"banding-losslessness DIAGNOSTIC refused: {n_reps} distinct "
            f"signatures > bound {max_reps} — its brute arm is O(reps²) "
            f"({n_reps}² ≈ {n_reps * n_reps:.1e} popcounts) and exists "
            f"only for validation-scale corpora; certify banding on a "
            f"sample, never the full corpus"
        )
    banded = DD.simhash64_hamming_pairs(
        docs, "doc_id", "text", k=k, shared_reps=reps
    )
    lft, rgt = reps.alias("l"), reps.alias("r")
    brute = (
        lft.crossJoin(rgt)  # diagnostic all-pairs: see docstring
        .filter(F.col("l._id") < F.col("r._id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("l._sig").bitwiseXOR(F.col("r._sig"))).cast("int"),
        )
        .filter(F.col("hamming") <= k)
        .select(
            F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"), "hamming"
        )
    )
    b_, x_ = banded.alias("b"), brute.alias("x")
    return (
        b_.join(
            x_,
            (F.col("b.id_a") == F.col("x.id_a"))
            & (F.col("b.id_b") == F.col("x.id_b")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("b.id_a"), F.col("x.id_a")).alias("id_a"),
            F.coalesce(F.col("b.id_b"), F.col("x.id_b")).alias("id_b"),
            F.coalesce(F.col("b.hamming"), F.col("x.hamming")).alias("hamming"),
            F.col("b.id_a").isNotNull().alias("in_banded"),
            F.col("x.id_a").isNotNull().alias("in_brute"),
        )
        .filter(~(F.col("in_banded") & F.col("in_brute")))
    )


@query(
    "dedup_incremental",
    oracle="""
    WITH fps AS (
      SELECT doc_id, doc_id % 10 >= 8 AS is_new,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents),
    corpus AS (SELECT DISTINCT fp FROM fps WHERE NOT is_new)
    SELECT fp, min(doc_id) AS keep_id, count(*) AS n_dups_in_batch
    FROM fps
    WHERE is_new AND fp NOT IN (SELECT fp FROM corpus)
    GROUP BY fp
    """,
)
def dedup_incremental(spark, sf_dir):
    """Incremental dedup — the daily-crawl scenario: a new batch
    (doc_id%10 ∈ {8,9} stands in for today's snapshot) is deduped
    against the ACCUMULATED corpus fingerprint set (everything else),
    then within itself. Novel fingerprints + batch-internal dup counts
    come out; previously-seen content never re-enters the corpus.

    Scale shape: only (fp, id) pairs move — the corpus side is a
    DISTINCT fingerprint table (in production: the bucketed fingerprint
    store written by write_bucketed, making this a shuffle-free
    sort-merge anti-join on fp). Batch-internal dedup is the same
    hash-groupBy as dedup_exact."""
    from ..operators.text import fingerprint

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 10 >= 8).alias("is_new"),
        fingerprint("text").alias("fp"),
    )
    corpus = d.filter(~F.col("is_new")).select("fp").distinct()
    return (
        d.filter(F.col("is_new"))
        .join(corpus, "fp", "left_anti")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups_in_batch"),
        )
    )


@query(
    "snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id % 10 < 9),
    new AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(
               CASE WHEN doc_id % 7 = 0 THEN text || ' amended' ELSE text END
             ), '\\s+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id % 10 >= 1)
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.doc_id IS NULL THEN 'added'
                WHEN new.doc_id IS NULL THEN 'removed'
                WHEN old.fp <> new.fp THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    WHERE old.doc_id IS NULL OR new.doc_id IS NULL OR old.fp <> new.fp
    ORDER BY doc_id
    """,
)
def snapshot_diff(spark, sf_dir):
    """Snapshot diff (CDC shape): two corpus snapshots compared by id +
    content fingerprint → added / removed / changed rows (unchanged
    suppressed). Here the snapshots are deterministic slices of the
    documents table with doc_id%7 rows textually amended, so all three
    statuses occur. Scale shape: both sides reduce to (id, fp) BEFORE
    the full-outer join — document bodies never ride the diff shuffle;
    on bucketed fingerprint stores (write_bucketed on id) the join is
    shuffle-free."""
    from ..operators.text import fingerprint

    d = load(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 10 < 9).select(
        "doc_id", fingerprint("text").alias("fp")
    )
    amended = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" amended"))
    ).otherwise(F.col("text"))
    new = d.filter(F.col("doc_id") % 10 >= 1).select(
        "doc_id", fingerprint(amended).alias("fp")
    )
    o, n = old.alias("o"), new.alias("n")
    status = (
        F.when(F.col("o.doc_id").isNull(), "added")
        .when(F.col("n.doc_id").isNull(), "removed")
        .when(F.col("o.fp") != F.col("n.fp"), "changed")
        .otherwise("unchanged")
    )
    return (
        o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
        .select(
            F.coalesce(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_id"),
            status.alias("status"),
        )
        .filter(F.col("status") != "unchanged")
        .orderBy("doc_id")
    )


@query(
    "cross_doc_ngram_exposure",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
      FROM documents),
    dg AS (
      SELECT doc_id,
             unnest(list_distinct({grams_expr("toks", 5)})) AS g
      FROM raw),
    tot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY doc_id),
    sh AS (SELECT g FROM dg GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
    expo AS (SELECT doc_id, count(*) AS n_shared
             FROM dg JOIN sh USING (g) GROUP BY doc_id)
    SELECT t.doc_id,
           t.n_grams,
           coalesce(e.n_shared, 0) AS n_shared,
           coalesce(e.n_shared, 0) * 1000000
             // greatest(t.n_grams, 1) AS shared_ppm
    FROM tot t LEFT JOIN expo e USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def cross_doc_ngram_exposure(spark, sf_dir):
    """Cross-document repeated-n-gram exposure (the signal behind
    substring-level train-set dedup, Lee et al. 2022): for each
    document, what fraction of its distinct 5-grams also appears in at
    least one OTHER document. High exposure = boilerplate/template
    content that inflates memorization; pipelines drop or trim it.

    Scale shape: two passes joined on doc_id. The gram pass explodes
    per-doc DISTINCT 5-grams into (doc_id, gram) rows, aggregates
    gram -> distinct-doc count (map-side combinable), keeps only
    grams with >=2 docs, and joins that (small, skew-bounded) shared
    set back to the gram stream — document bodies never shuffle. The
    scalar pass computes per-doc gram totals in its own projection
    (NOT carried beside the explode — ARCHITECTURE.md pitfall 12
    would re-evaluate the shingle HOF per generated row). At 100 TB
    the gram join key becomes xxhash64(gram) (8-byte shuffle instead
    of the string; collisions only over-flag exposure at ~2^-64);
    the md5-free string key here keeps the oracle exact."""
    from ..operators import text as TX

    d = load(spark, sf_dir, "documents")
    g5 = F.array_distinct(TX.shingles("text", 5))
    dg = d.select("doc_id", F.explode(g5).alias("g"))
    tot = d.select("doc_id", F.size(g5).alias("n_grams"))
    # (doc_id, g) rows are unique (array_distinct before explode), so a
    # plain count-over-gram window IS the distinct-doc count — one pass
    # over the gram stream instead of aggregate + self-join (which
    # recomputed the explode subplan twice, ARCHITECTURE pitfall 3)
    expo = (
        dg.withColumn("nd", F.count(F.lit(1)).over(W.partitionBy("g")))
        .filter(F.col("nd") >= 2)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        tot.join(expo, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.expr(
                "coalesce(n_shared, 0) * 1000000 DIV greatest(n_grams, 1)"
            ).alias("shared_ppm"),
        )
        .orderBy("doc_id")
    )


@query(
    "golden_record_merge",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source, text, lang,
             md5(lower(trim(text))) AS fingerprint,
             length(text) AS n_chars
      FROM documents),
    ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY fingerprint
               ORDER BY n_chars DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY fingerprint) AS n_sources,
             min(doc_id) OVER (PARTITION BY fingerprint) AS first_doc_id
      FROM fp)
    SELECT fingerprint, doc_id AS canonical_doc_id, source AS canonical_source,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_sources AS BIGINT) AS n_sources, first_doc_id
    FROM ranked WHERE rn = 1 ORDER BY fingerprint
    """,
)
def golden_record_merge(spark, sf_dir):
    """Survivorship / golden-record selection (the step after dedup
    in entity resolution): each duplicate cluster (here: exact
    normalized-content fingerprint) elects ONE canonical record by an
    explicit rule chain — longest text wins, doc_id breaks ties — and
    the output carries cluster lineage (source count, first id) so
    provenance survives the merge.

    Scale shape: one shuffle on the fingerprint, one window pass per
    cluster (bounded by cluster size), no self-join; the rule chain is
    a deterministic ORDER BY, so reruns and engines elect the same
    survivor — the property that makes the golden-record table safely
    re-buildable at 100 TB. Extends dedup_exact (which only collapses)
    with the merge semantics a real MDM/corpus pipeline needs."""
    d = load(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        "source",
        "lang",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    wp = W.partitionBy("fingerprint")
    ranked = fp.select(
        "fingerprint",
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(wp.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n_sources"),
        F.min("doc_id").over(wp).alias("first_doc_id"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "fingerprint",
            F.col("doc_id").alias("canonical_doc_id"),
            F.col("source").alias("canonical_source"),
            "n_chars",
            "n_sources",
            "first_doc_id",
        )
        .orderBy("fingerprint")
    )


def _pipeline_containment_oracle() -> str:
    # the full composed pipeline in ONE SQL: exact-dup prune (multiset
    # fingerprint collapse) + minhash pairs → recursive CC → prune
    # non-canonical members → containment join over the survivors →
    # per-stage counts (counts, not pairs: after near-dedup the gate
    # corpus has no sub-Jaccard containment pairs left, and a 0-row
    # result would prove only schema — the count rows carry values
    # through every stage)
    pairs_sql = _minhash_oracle()
    survivors_items = f"""
      SELECT doc_id AS _id,
             list_sort(list_filter(list_distinct({grams_expr("toks", 3)}),
                                   g -> g <> '')) AS items
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS toks
            FROM survivors) raw
    """
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    mitems AS ({_MULTISET_ITEMS_SQL}),
    fps AS (
      SELECT _id, md5(array_to_string(items, ' ')) AS fp FROM mitems
    ),
    ekeep AS (SELECT fp, min(_id) AS keep FROM fps GROUP BY fp),
    exact_pruned AS (
      SELECT f._id AS id FROM fps f JOIN ekeep k ON f.fp = k.fp
      WHERE f._id <> k.keep
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    walk(id, reach) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, w.reach FROM edges e JOIN walk w ON e.b = w.id
    ),
    cc AS (SELECT id, min(reach) AS comp FROM walk GROUP BY id),
    pruned AS (SELECT id FROM cc WHERE comp <> id),
    survivors AS (
      SELECT * FROM documents
      WHERE doc_id NOT IN (SELECT id FROM pruned)
        AND doc_id NOT IN (SELECT id FROM exact_pruned)
    ),
    cbase AS ({survivors_items}),
    creps AS (
      SELECT min(_id) AS _id, items FROM cbase WHERE len(items) > 0 GROUP BY items
    ),
    cpairs AS (
      SELECT l._id AS id_a, r._id AS id_b
      FROM creps l JOIN creps r ON l._id < r._id
      WHERE round(len(list_intersect(l.items, r.items))
                  / CAST(least(len(l.items), len(r.items)) AS DOUBLE), 4) >= 0.9
    )
    SELECT 'raw_docs' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
    UNION ALL
    SELECT 'exact_dup_pruned', CAST(count(*) AS BIGINT) FROM exact_pruned
    UNION ALL
    SELECT 'neardedup_survivors', CAST(count(*) AS BIGINT) FROM survivors
    UNION ALL
    SELECT 'containment_pairs_among_survivors', CAST(count(*) AS BIGINT) FROM cpairs
    """


@query("dedup_pipeline_containment", oracle=_pipeline_containment_oracle)
def dedup_pipeline_containment(spark, sf_dir):
    """The documented near-dedup pipeline ORDER as one oracle-checked
    plan: exact-dup collapse (multiset-fingerprint, keep min id) +
    MinHash+LSH pairs over representatives → connected components →
    keep one doc per cluster → containment join over the survivors
    only. The explicit exact-dup stage matters: minhash_lsh_pairs
    emits REPRESENTATIVE-only pairs (identical multisets collapse
    before LSH), so non-rep exact duplicates never enter the pair
    graph — without this stage they would all survive the CC prune and
    "keep one doc per cluster" would be false for exact-dup clusters.
    This is the composition that makes the containment stage scale
    (its candidate volume is linear in true near-dup mass, so it runs
    AFTER both dup masses are removed — see containment_pairs'
    docstring). Output: per-stage counts (raw docs, exact-dup pruned,
    survivors, containment pairs among survivors) — counts rather than
    pairs because a well-deduped corpus legitimately has ~no
    containment pairs left, and the stage counts carry verified values
    through the whole composition."""
    docs = load(spark, sf_dir, "documents")
    # exact-dup prune: same multiset fingerprint minhash collapses on
    # (md5 over sorted token:count items), keep the min doc_id per
    # fingerprint. groupBy-min + join — only (fp, id) rows shuffle.
    # The (_id, _item) frame is built ONCE and shared with the minhash
    # stage (r12: _minhash_reps re-ran the identical tokenize→explode→
    # count front half over the same corpus — shared_items tokenizes
    # once, the dedup_minhash_fast_vs_md5 pattern; item strings and
    # fps are byte-identical by construction, EXP_PIPELINE_FRONT.json
    # fingerprint-asserted prune ids AND pairs before timing).
    items = DD._minhash_items(docs, "doc_id", "text", "multiset", 3).persist()
    fps = (
        items.groupBy("_id")
        .agg(F.array_sort(F.collect_list("_item")).alias("items"))
        .select("_id", F.md5(F.array_join("items", " ")).alias("_fp"))
    )
    keeps = fps.groupBy("_fp").agg(F.min("_id").alias("_keep"))
    # materialized ONCE: the pruned-id list feeds the survivors
    # anti-join (inside containment_pairs' eager computation) AND its
    # own stage count AND the survivors count — lazily it re-ran the
    # whole tokenize→count→collect fingerprint pipeline three times
    # per lifecycle (r12, EXP_CRUD_PHASES). The id list is tiny.
    exact_pruned = (
        fps.join(keeps, "_fp")
        .filter(F.col("_id") != F.col("_keep"))
        .select(F.col("_id").alias("doc_id"))
        .localCheckpoint(eager=True)
    )
    pairs = DD.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=2, threshold=0.9,
        shared_items=items,
    )
    items.unpersist()  # pairs eagerly checkpointed; exact_pruned too
    cc = DD.connected_components(pairs)
    cc_pruned = cc.filter(F.col("comp") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    survivors = docs.join(
        cc_pruned.unionAll(exact_pruned), "doc_id", "left_anti"
    )
    cont = DD.containment_pairs(survivors, "doc_id", "text", threshold=0.9)
    n = F.count(F.lit(1)).cast("bigint").alias("n")
    return (
        docs.agg(n).select(F.lit("raw_docs").alias("stage"), "n")
        .unionAll(
            exact_pruned.agg(n).select(
                F.lit("exact_dup_pruned").alias("stage"), "n"
            )
        )
        .unionAll(
            survivors.agg(n).select(
                F.lit("neardedup_survivors").alias("stage"), "n"
            )
        )
        .unionAll(
            cont.agg(n).select(
                F.lit("containment_pairs_among_survivors").alias("stage"), "n"
            )
        )
    )


def _threshold_sweep_oracle() -> str:
    pairs = _minhash_oracle(
        num_hashes=16, bands=8, threshold=0.5, items_sql=_SHINGLE_ITEMS_SQL
    )
    return f"""
    WITH pairs AS ({pairs}),
    ks AS (SELECT unnest([500000, 600000, 700000, 800000, 900000])
           AS threshold_ppm)
    SELECT CAST(ks.threshold_ppm AS BIGINT) AS threshold_ppm,
           CAST(count(p.id_a) AS BIGINT) AS n_pairs
    FROM ks LEFT JOIN pairs p
      ON p.jaccard >= ks.threshold_ppm / 1000000.0
    GROUP BY ks.threshold_ppm ORDER BY threshold_ppm
    """


@query("dedup_threshold_sweep", oracle=_threshold_sweep_oracle)
def dedup_threshold_sweep(spark, sf_dir):
    """The Jaccard-threshold tuning curve for MinHash dedup: verified
    near-dup PAIR counts at τ ∈ {0.5 … 0.9} — the sweep an operator
    reads before pinning the production threshold (too low merges
    near-misses, too high leaks true dups; the dedup-family analogue
    of ann_pq_recall_at_k / ann_ivf_recall_at_nprobe). Candidates come
    from ONE permissive banding shared by every sweep point — 8 bands
    × 2 rows, candidate probability 1 − (1−j²)^8: 90.0 % at the
    τ = 0.5 floor, 97.2 % at 0.6, ≥ 99.5 % from 0.7 — each verified
    by EXACT shingle-set Jaccard (re-banding per τ would change
    recall under the curve; the floor recall is the documented price
    of a bounded candidate set).

    The item unit and band width were MEASURED, not guessed, because a
    permissive sweep banding is exactly where LSH degenerates: with
    multiset items (this corpus's ~50-word vocabulary) single-row
    bands collected ~1,300 of 5,000 sf0.1 docs under one band key —
    22.5 M candidate pairs, 180 s; rows=2 cut that to 1.4 M/17 s but
    still grew quadratically with corpus size (the sf1 rehearsal ran
    away); 3-gram SHINGLE items at rows=2 give 2,861 candidates with
    a max bucket of 13 — shingle min-hashes are high-entropy where
    multiset min-hashes concentrate on globally-frequent tokens.
    Shingles are also the standard web-dedup unit
    (dedup_minhash_shingles), so the sweep tunes the configuration
    production actually runs.

    Scale: one LSH pass (rep collapse → 8 two-hash band keys →
    candidate join → exact verify on candidates only — the
    minhash_lsh_pairs plan); the τ fanout joins the bounded verified
    pair list against 5 threshold rows. Both engines compare the same
    round-4 jaccard doubles against the same τ division, so counts
    hash-match exactly. sf1→sf10 rehearsal: 17.6 s → 253 s (14.4× for
    10× data — candidate/pair-bound like the rest of the md5-minhash
    family, whose sf10 ratios span 7–15×: the scaled corpus densifies
    near-dup clusters, so verified-pair work grows faster than the
    scan; BENCH_r6_sessionops2.json)."""
    pairs = DD.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        num_hashes=16,
        bands=8,
        threshold=0.5,
        unit="shingles",
    ).select("id_a", "jaccard")
    ks = parallelize(
        spark,
        [(t,) for t in (500000, 600000, 700000, 800000, 900000)],
        "threshold_ppm bigint not null",
    )
    return (
        ks.join(
            pairs,
            pairs["jaccard"] >= ks["threshold_ppm"] / F.lit(1000000.0),
            "left",
        )
        .groupBy("threshold_ppm")
        .agg(F.count("id_a").cast("bigint").alias("n_pairs"))
        .orderBy("threshold_ppm")
    )


def _minhash_delete_oracle(
    num_hashes: int = 16, bands: int = 2, threshold: float = 0.9
) -> str:
    """Rebuild-without mirror: base reps built from the base corpus
    MINUS every document whose content fingerprint appears in the
    takedown set (base ids with _id % 3 = 0) — the content-takedown
    semantics delete_minhash_index_content implements."""
    rows = num_hashes // bands
    sig_elems = ", ".join(
        f"list_min(list_transform(items, t -> md5('{s}:' || t)))" for s in range(num_hashes)
    )
    band_elems = ", ".join(
        "concat_ws('|', '%d', %s)" % (b, ", ".join(f"sig[{b * rows + r + 1}]" for r in range(rows)))
        for b in range(bands)
    )
    return f"""
    WITH items0 AS (
      {_MULTISET_ITEMS_SQL}
    ),
    f AS (SELECT _id, items, md5(array_to_string(items, ' ')) AS fp
          FROM items0),
    tfps AS (SELECT DISTINCT fp FROM f WHERE _id % 5 <> 0 AND _id % 3 = 0),
    nreps AS (
      SELECT min(_id) AS _id, any_value(items) AS items
      FROM f WHERE _id % 5 = 0 GROUP BY fp
    ), breps AS (
      SELECT min(_id) AS _id, any_value(items) AS items
      FROM f WHERE _id % 5 <> 0 AND fp NOT IN (SELECT fp FROM tfps)
      GROUP BY fp
    ), nsigs AS (
      SELECT _id, items, [{sig_elems}] AS sig FROM nreps
    ), bsigs AS (
      SELECT _id, items, [{sig_elems}] AS sig FROM breps
    ), nb AS (
      SELECT _id, unnest([{band_elems}]) AS band FROM nsigs
    ), bb AS (
      SELECT _id, unnest([{band_elems}]) AS band FROM bsigs
    ), cand AS (
      SELECT DISTINCT l._id AS new_id, r._id AS base_id
      FROM nb l JOIN bb r ON l.band = r.band
    ), verified AS (
      SELECT new_id, base_id,
             round(len(list_intersect(a.items, b.items))
                   / CAST(len(list_distinct(list_concat(a.items, b.items))) AS DOUBLE), 4)
               AS jaccard
      FROM cand JOIN nreps a ON cand.new_id = a._id
                JOIN breps b ON cand.base_id = b._id
    )
    SELECT new_id, base_id, jaccard FROM verified WHERE jaccard >= {threshold}
    """


@query("dedup_minhash_index_delete", oracle=_minhash_delete_oracle)
def dedup_minhash_index_delete(spark, sf_dir):
    """The dedup-index TAKEDOWN row (write → DELETE content → match):
    build the base index (doc_id % 5 ≠ 0, md5 path), remove the
    takedown batch's CONTENT (base docs with doc_id % 3 = 0 — every
    rep whose item set matches a takedown doc disappears, the
    whole-cluster semantics a DMCA/GDPR request wants), assert the
    re-sent takedown removes 0 (idempotent), then match the incoming
    batch (doc_id % 5 = 0). The oracle rebuilds the post-delete index
    from scratch in SQL, so the row is red if deleted content still
    matches OR a surviving rep's id/signature was disturbed by the
    rewrite. With ann_pq_delete_topk this completes stored-index CRUD
    for BOTH index families: write, append, streaming refresh,
    delete, match/query."""
    import os
    import tempfile

    docs = load(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_mh_del_{tag}")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    DD.write_minhash_index(
        base, "doc_id", "text", path, num_hashes=16, bands=2, fast=False
    )
    takedown = base.filter(F.col("doc_id") % 3 == 0)
    DD.delete_minhash_index_content(takedown, path, "doc_id", "text")
    n_again = DD.delete_minhash_index_content(takedown, path, "doc_id", "text")
    if n_again != 0:
        raise AssertionError(
            f"re-sent takedown removed {n_again} reps — content delete "
            "must be idempotent"
        )
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    return DD.match_minhash_index(
        batch, path, "doc_id", "text", threshold=0.9
    ).orderBy("new_id", "base_id")
