"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point of these at 100 TB):
- Exact dedup: hash-groupBy on a 128-bit fingerprint — one shuffle of
  (hash, id), never of document bodies.
- MinHash+LSH: per-doc signature (narrow, one scan) → explode only the
  B band keys (B rows per doc) → self-join on band key finds candidate
  pairs → exact Jaccard verify on the candidates only. Cost is
  O(docs·B) shuffle rows + candidate verification, not O(docs²).
- SimHash: one 64-bit signature per doc; equal-signature grouping via
  hash-groupBy; near-signatures via banded sub-keys (same LSH trick).
- n-gram Jaccard: exact pairwise measure, *blocked* so the cross
  product stays bounded per block.

Hash portability: the oracle-checkable variants use md5 (bit-identical
in Spark / DuckDB / Python). ``xxhash64`` fast-path variants exist for
production (JVM hash, no hex strings) — same structure, different
hash, noted per function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column
from pyspark.sql import functions as F

from .. import stored_index as SI
from ._iterloop import adjacency_cache, release_checkpoint
from .text import distinct_tokens, fingerprint, tokens

_MINHASH_PARAMS = ("num_hashes", "bands", "unit", "shingle_k", "fast")

__all__ = [
    "exact_dedup",
    "tokenset_dedup",
    "minhash_signature",
    "minhash_band_keys",
    "minhash_lsh_pairs",
    "minhash_lsh_match",
    "write_minhash_index",
    "match_minhash_index",
    "read_minhash_index_meta",
    "connected_components",
    "jaccard_pairs",
    "containment_pairs",
    "simhash16",
    "simhash64",
    "simhash_clusters",
    "token_multiset_items",
]


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on the canonical fingerprint: one representative
    (min id) per identical normalized text. Output: (fp, keep_id, n_dups)."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def tokenset_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on the sorted distinct-token set — catches documents
    that are word-order shuffles of each other (the 'dup' cluster in the
    test corpus). Same hash-groupBy shape as exact_dedup."""
    fp = F.md5(F.array_join(distinct_tokens(text_col), " "))
    return (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _portable_hash(seed: int, col: Column) -> Column:
    """md5('<seed>:' || token) — reproducible in DuckDB/Python. The
    min over hex strings is a valid MinHash (uniform over the hex
    ordering). Production fast path: xxhash64(seed, token)."""
    return F.md5(F.concat(F.lit(f"{seed}:"), col))


def _seed_hasher(seed: int):
    """One-arg lambda factory. NOTE: binding the seed with a default
    argument (``lambda t, s=s: ...``) silently breaks — PySpark
    dispatches higher-order-function lambdas on *parameter count*, so a
    2-parameter lambda becomes the (element, index) variant and the
    "seed" receives the array index."""

    def h(t: Column) -> Column:
        return _portable_hash(seed, t)

    return h


def minhash_signature(items: Column, num_hashes: int = 16) -> Column:
    """MinHash signature over an array of item strings: array of
    ``num_hashes`` minima of per-seed item hashes. One pass over the
    array, JVM-side."""
    return F.array(
        *[F.array_min(F.transform(items, _seed_hasher(s))) for s in range(num_hashes)]
    )


def token_multiset_items(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document sorted 'token:count' item list — the multiset
    representation MinHash operates on. Multiset (not set) items matter
    on small vocabularies: nearly every document contains every word,
    so set-jaccard saturates at ~1 and LSH buckets degenerate into one
    giant candidate clique; frequency profiles stay discriminative.

    Plan: explode → count per (doc, token) → collect per doc. Two
    shuffles on bounded keys; at 100 TB this is the standard
    wordcount-shaped plan (AQE coalesces the tail).
    Output: (id, items array<string>).
    """
    exploded = df.select(F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("_tok"))
    counts = exploded.groupBy("_id", "_tok").agg(F.count(F.lit(1)).alias("_cnt"))
    return counts.groupBy("_id").agg(
        F.array_sort(
            F.collect_list(F.concat(F.col("_tok"), F.lit(":"), F.col("_cnt")))
        ).alias("items")
    )


def minhash_band_keys(sig: Column, num_hashes: int = 16, bands: int = 4) -> Column:
    """LSH banding: split the signature into ``bands`` rows of
    ``num_hashes/bands`` hashes; docs sharing any full band become
    candidates. Returns an array of band-key strings."""
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.element_at(sig, b * rows_per_band + r + 1) for r in range(rows_per_band)],
            )
            for b in range(bands)
        ]
    )


def _minhash_items(
    df: DataFrame, id_col: str, text_col: str, unit: str, shingle_k: int
) -> DataFrame:
    """The hash-free front half of the rep pipeline: per-document
    distinct item STRINGS (_id, _item) — tokenize/shingle, explode,
    the fused _id exchange, and the per-(doc, item) dedup/count.
    Split out (r12) so a caller running BOTH hash families over the
    same corpus (the fast-vs-md5 gate diagnostic) can build this once,
    persist it, and hash twice: everything from here on differs by
    hash family, everything up to here is byte-identical between
    them. Callers that share it MUST persist() (not localCheckpoint —
    the cache preserves hashpartitioning(_id), which keeps the
    per-doc signature aggregation exchange-free; a checkpoint would
    forget the partitioning and re-shuffle both paths)."""
    if unit == "shingles":
        from .text import shingles

        items_df = df.select(
            F.col(id_col).alias("_id"),
            F.explode_outer(shingles(text_col, shingle_k)).alias("_item"),
        )
        return items_df.repartition("_id").dropDuplicates(["_id", "_item"])
    if unit == "multiset":
        exploded = df.select(
            F.col(id_col).alias("_id"), F.explode(tokens(text_col)).alias("_tok")
        ).repartition("_id")
        item = F.concat(F.col("_tok"), F.lit(":"), F.col("_cnt"))
        return (
            exploded.groupBy("_id", "_tok")
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .select("_id", item.alias("_item"))
        )
    raise ValueError(f"unknown unit {unit!r} (expected 'multiset' or 'shingles')")


def _minhash_reps(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    unit: str,
    shingle_k: int,
    fast: bool,
    keep_fp: bool = False,
    shared_items: DataFrame | None = None,
) -> DataFrame:
    """Representative table for MinHash: per unique item-multiset one
    row (_id = min doc id, items, _h0.._hN signature minima). Shared by
    the self-join pair finder and the incremental matcher.
    ``shared_items`` short-circuits the item construction with a
    caller-persisted ``_minhash_items`` frame (fast-vs-md5 sharing)."""
    # Signature computed inside the item aggregation: the per-item
    # md5s are plain (whole-stage-codegen'd) column expressions and the
    # 16 minima fold via map-side-combinable min() — no interpreted
    # higher-order-function lambdas in the hot path (HOF lambdas don't
    # codegen; the array-lambda formulation measured 25× slower).
    #
    # ONE doc-keyed exchange, not two: the exploded token rows are
    # hash-repartitioned by _id up front, and HashPartitioning(_id)
    # satisfies the clustered distribution of BOTH the per-(doc, item)
    # dedup/count AND the per-doc signature aggregation (partitioning
    # keys ⊆ grouping keys), so Catalyst inserts no further exchange
    # between them. The repartition shuffles raw token instances
    # (≈2-3× the distinct-item rows the groupBy exchange would carry)
    # but deletes the second, WIDER exchange — the one carrying every
    # distinct item plus its 16 hash columns. The fused shape won the
    # A/B at sf0.1, sf1 and sf10 (AB_REPS_FUSION.json).
    items_df = (
        shared_items
        if shared_items is not None
        else _minhash_items(df, id_col, text_col, unit, shingle_k)
    )
    if fast:
        # Hash every item string to a 64-bit id ONCE; the 16 seeded
        # hashes then fold over the 8-byte id, and the verify join
        # intersects long arrays instead of ~70-byte strings — item
        # strings never leave this projection. A 64-bit item-id
        # collision inside one candidate pair's union could nudge its
        # Jaccard (p ≈ n²·2⁻⁶⁴ per pair) — the fast path's accepted
        # trade, same class as its collapsed band keys. NULL guard:
        # explode_outer emits NULL for empty docs and xxhash64 would
        # hash it to a real long, turning [] into a one-item doc.
        hashed = items_df.select(
            "_id",
            F.when(
                F.col("_item").isNull(), F.lit(None).cast("bigint")
            ).otherwise(F.xxhash64("_item")).alias("_iid"),
        ).select(
            "_id",
            F.col("_iid").alias("_item"),
            *[
                F.xxhash64(F.lit(s), "_iid").alias(f"_h{s}")
                for s in range(num_hashes)
            ],
        )
    else:
        hashed = items_df.select(
            "_id",
            "_item",
            *[
                _portable_hash(s, F.col("_item")).alias(f"_h{s}")
                for s in range(num_hashes)
            ],
        )
    per_doc = hashed.groupBy("_id").agg(
        F.array_sort(F.collect_list("_item")).alias("items"),
        *[F.min(f"_h{s}").alias(f"_h{s}") for s in range(num_hashes)],
    )
    # fast: xxhash64 hashes the sorted long array directly (hash
    # functions support complex types); portable: md5 over the joined
    # string items, reproducible in DuckDB
    fp = (
        F.xxhash64(F.col("items"))
        if fast
        else F.md5(F.array_join("items", " "))
    )
    out = per_doc.withColumn("_fp", fp).groupBy("_fp").agg(
        F.min("_id").alias("_id"),
        F.first("items").alias("items"),
        *[F.first(f"_h{s}").alias(f"_h{s}") for s in range(num_hashes)],
    )
    # keep_fp: the stored-index write path persists the group key so
    # append's first-writer-wins anti-join never has to re-read the
    # WIDE items column (or re-run md5 over whole arrays) from the
    # stored index — at scale that scan was the append's dominant
    # read (r12, guide §6). Value is identical to what append used to
    # recompute: fp(items) of the representative.
    return out if keep_fp else out.drop("_fp")


def _band_keys(num_hashes: int, bands: int, fast: bool):
    """Array column of LSH band keys over a rep row's _h columns."""
    rows_per_band = num_hashes // bands
    if fast:
        # fast path: collapse each band's hashes into ONE xxhash64 long
        # — the band shuffle carries 8-byte keys instead of ~70-byte
        # concat strings. A 64-bit band-key collision only ADDS a
        # candidate pair, and every candidate is exact-Jaccard
        # verified, so correctness is unaffected.
        return F.array(
            *[
                F.xxhash64(
                    F.lit(b),
                    *[
                        F.col(f"_h{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                )
                for b in range(bands)
            ]
        )
    return F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[
                    F.col(f"_h{b * rows_per_band + r}")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )


def _jaccard_verify(
    cand: DataFrame,
    reps_a: DataFrame,
    reps_b: DataFrame,
    id_a: str,
    id_b: str,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verify of MinHash candidates: re-attach each side's
    sorted item array by id (the band join carried ids only), score
    |A ∩ B| / |A ∪ B| rounded to 4 places, keep scores ≥ threshold.
    Output: (id_a, id_b, jaccard) under the caller's two id names."""
    ia = reps_a.select(F.col("_id").alias(id_a), F.col("items").alias("items_a"))
    ib = reps_b.select(F.col("_id").alias(id_b), F.col("items").alias("items_b"))
    inter = F.size(F.array_intersect("items_a", "items_b"))
    union = F.size(F.array_union("items_a", "items_b"))
    return (
        cand.join(ia, id_a)
        .join(ib, id_b)
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select(id_a, id_b, "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 2,
    threshold: float = 0.9,
    unit: str = "multiset",
    shingle_k: int = 3,
    fast: bool = False,
    shared_items: DataFrame | None = None,
) -> DataFrame:
    """Near-dup *representative* pairs via MinHash+LSH with
    exact-Jaccard verification over token-multiset items.

    Plan shape (each step keeps shuffle rows narrow — the three design
    rules that make this survive 100 TB):
    1. items per doc (token:count multiset) → md5 fingerprint;
       **collapse identical multisets** to one representative (min id)
       first — exact-dup clusters would otherwise re-meet in every LSH
       bucket and recreate the quadratic pair list LSH exists to avoid.
    2. signature (narrow) → explode only B band keys per rep.
    3. band self-join produces candidate **(id, id) pairs only** — item
       arrays are re-attached by id afterwards, so the band shuffle
       never carries document content.
    4. exact multiset-Jaccard ≥ threshold on candidates only.
    Output: (id_a, id_b, jaccard) over representatives, id_a < id_b.

    ``unit`` selects the item representation:
    - "multiset": token:count items — order-insensitive, catches word
      shuffles; right for bag-of-words similarity and small vocabularies.
    - "shingles": k-token shingles — order-sensitive, the standard
      web-crawl/LLM-corpus near-dedup configuration (boilerplate edits
      and truncations score high; reorderings don't).

    ``fast=True`` swaps the oracle-portable md5 item hash for JVM
    xxhash64 (no hex strings — the production path).
    The pair list is materialized via localCheckpoint and the persisted
    representative table released before returning, so repeated calls
    in a long-lived session do not accumulate cached partitions.
    Candidates go straight from the band join to the exact verify: a
    signature-agreement prefilter measured a wash at sf0.1 and ~10%
    slower at sf1 (band collisions here are mostly true near-dups).

    ``shared_items``: a caller-persisted ``_minhash_items`` frame for
    the same (df, id_col, text_col, unit, shingle_k) — lets a caller
    running BOTH hash families over one corpus (the fast-vs-md5
    diagnostic) tokenize/count once and hash twice. The caller owns
    the persist lifetime; values are identical by construction (the
    item build is the hash-free front half either way).
    """
    # persist: the representative table is referenced four times (both
    # band-join sides + both verify sides); without it Spark recomputes
    # the tokenize→count→collect pipeline per reference (measured 5×
    # slowdown at sf0.1). One row per unique multiset — small relative
    # to the corpus; the default storage level spills safely at scale.
    reps = _minhash_reps(
        df, id_col, text_col, num_hashes, unit, shingle_k, fast,
        shared_items=shared_items,
    ).persist()
    banded = reps.select(
        "_id", F.explode(_band_keys(num_hashes, bands, fast)).alias("_band")
    )
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), on="_band")
        .filter(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    out = _jaccard_verify(
        cand, reps, reps, "id_a", "id_b", threshold
    ).localCheckpoint(eager=True)
    reps.unpersist()
    return out


def minhash_lsh_match(
    new_df: DataFrame,
    base_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 2,
    threshold: float = 0.9,
    unit: str = "multiset",
    shingle_k: int = 3,
    fast: bool = False,
) -> DataFrame:
    """INCREMENTAL near-dedup: match a new batch against an existing
    corpus, never the corpus against itself — the daily-crawl shape
    (dedup_incremental's exact-fingerprint anti-join, upgraded to
    near-dup). Band keys of the new batch join band keys of the base;
    candidates are verified by exact Jaccard. Cost is O(new·B) band
    rows plus the matched candidates — adding a day's crawl to a
    100 TB corpus never pays the corpus×corpus bill, and in production
    the base band index is a stored table written once
    (sources.write_bucketed on _band), so only the NEW side is hashed
    per batch.

    Output: (new_id, base_id, jaccard) for every new representative
    whose similarity to a base representative ≥ threshold, materialized
    via localCheckpoint with both persisted rep tables released (the
    minhash_lsh_pairs discipline)."""
    new_reps = _minhash_reps(
        new_df, id_col, text_col, num_hashes, unit, shingle_k, fast
    ).persist()
    base_reps = _minhash_reps(
        base_df, id_col, text_col, num_hashes, unit, shingle_k, fast
    ).persist()
    keys = _band_keys(num_hashes, bands, fast)
    new_banded = new_reps.select("_id", F.explode(keys).alias("_band"))
    base_banded = base_reps.select("_id", F.explode(keys).alias("_band"))
    cand = (
        new_banded.alias("l")
        .join(base_banded.alias("r"), on="_band")
        .select(F.col("l._id").alias("new_id"), F.col("r._id").alias("base_id"))
        .distinct()
    )
    out = _jaccard_verify(
        cand, new_reps, base_reps, "new_id", "base_id", threshold
    ).localCheckpoint(eager=True)
    new_reps.unpersist()
    base_reps.unpersist()
    return out


def write_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    num_hashes: int = 16,
    bands: int = 4,
    unit: str = "multiset",
    shingle_k: int = 3,
    fast: bool = True,
) -> None:
    """Materialize the corpus MinHash index ONCE: part ``reps`` holds
    (_id, items, signature) per representative, part ``bands`` the
    (band, _id) posting list. Every subsequent batch matches against
    the stored index (match_minhash_index) without re-hashing the
    corpus — the write-once/read-per-batch shape a daily-crawl dedup
    runs in production. Defaults to the fast (xxhash64) path.

    Hashing parameters are the manifest's params (stored_index);
    match_minhash_index reads them back, making a parameter drift
    between write and match impossible.

    The reps table also persists each rep's multiset fingerprint
    (``_fp`` — the rep pipeline's own group key, free to keep):
    append_minhash_index's first-writer-wins anti-join then reads one
    narrow column instead of re-scanning and re-hashing the wide item
    arrays (r12, guide §6)."""
    reps = _minhash_reps(
        df, id_col, text_col, num_hashes, unit, shingle_k, fast, keep_fp=True
    )
    new_reps = SI.write_part(reps, path, "reps")
    # read back so the band explode consumes the materialized table
    # instead of re-running the rep pipeline
    stored = new_reps.read(df.sparkSession, path, "reps")
    new_bands = SI.write_part(
        stored.select(
            "_id", F.explode(_band_keys(num_hashes, bands, fast)).alias("_band")
        ),
        path,
        "bands",
    )
    params = {
        "num_hashes": int(num_hashes),
        "bands": int(bands),
        "unit": unit,
        "shingle_k": int(shingle_k),
        "fast": bool(fast),
    }
    SI.commit(path, "minhash", params, {"reps": new_reps, "bands": new_bands})


def append_minhash_index(
    new_df: DataFrame, path: str, id_col: str, text_col: str
) -> int:
    """Fold a new batch into a stored MinHash index (the write side of
    the daily-crawl loop write_minhash_index/match_minhash_index model:
    match today's batch against the index, THEN append it so tomorrow's
    batch sees it). Hashing parameters come from the stored manifest
    — drift is impossible by construction. Returns the number of new
    representative rows appended.

    Semantics: FIRST-WRITER-WINS representatives. A new doc whose item
    multiset already has a stored representative adds nothing (its
    cluster membership is the match output); only genuinely new
    multisets append one rep row + their band postings. With
    monotonically increasing doc ids — the crawl case — this is
    identical to rebuilding the index from the full corpus (min-id
    reps); with interleaved ids the stored rep keeps its original id
    (stable identity across days, which production wants) where a
    rebuild would relabel. Asserted equal under monotone ids in
    tests/test_operators.py.

    Scale shape: the new batch is hashed once (the same one-exchange
    rep pipeline); dedup-against-stored is a narrow anti-join on the
    persisted 8-byte/32-hex multiset fingerprint (_fp), so the stored
    side is a single narrow column scan and the wide item arrays are
    never read. The new reps and their postings land as new segments
    of both parts under ONE manifest commit."""
    spark = new_df.sparkSession
    idx = SI.open_index(path, "minhash", _MINHASH_PARAMS)
    meta = idx.params
    num_hashes, bands = meta["num_hashes"], meta["bands"]
    reps_new = _minhash_reps(
        new_df, id_col, text_col, num_hashes, meta["unit"], meta["shingle_k"],
        meta["fast"], keep_fp=True,
    )
    stored_fps = idx.read(spark, "reps").select("_fp")
    fresh = reps_new.join(stored_fps, "_fp", "left_anti")
    fresh = fresh.localCheckpoint(eager=True)  # one computation, both writes
    n_new = fresh.count()
    if n_new:
        reps = SI.write_part(fresh, path, "reps")
        bands_part = SI.write_part(
            fresh.select(
                "_id",
                F.explode(_band_keys(num_hashes, bands, meta["fast"])).alias("_band"),
            ),
            path,
            "bands",
        )
        SI.commit(
            path,
            "minhash",
            meta,
            {
                "reps": idx.parts["reps"].plus(reps),
                "bands": idx.parts["bands"].plus(bands_part),
            },
        )
    release_checkpoint(fresh)
    return n_new


def read_minhash_index_meta(spark, path: str) -> dict:
    """The hashing parameters a stored index was built with
    (write_minhash_index's manifest params)."""
    return dict(SI.open_index(path, "minhash", _MINHASH_PARAMS).params)


def match_minhash_index(
    new_df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    **overrides,
) -> DataFrame:
    """Match a new batch against a stored MinHash index
    (write_minhash_index): only the NEW side is tokenized and hashed;
    the corpus side is two parquet scans (bands posting list + reps
    for verify). Output: (new_id, base_id, jaccard ≥ threshold).

    Hashing parameters (num_hashes/bands/unit/shingle_k/fast) come
    from the index's stored manifest — a batch hashed differently
    than the corpus would silently produce zero candidates (e.g.
    fast bigint band keys joined against md5 strings), so they are
    not free parameters here. Passing one as a keyword is allowed
    only as an assertion: a value that disagrees with the stored
    meta raises instead of mis-matching."""
    spark = new_df.sparkSession
    idx = SI.open_index(path, "minhash", _MINHASH_PARAMS)
    meta = idx.params
    drift = {
        k: (v, meta[k])
        for k, v in overrides.items()
        if k in meta and v != meta[k]
    }
    unknown = set(overrides) - set(meta)
    if unknown:
        raise TypeError(f"unknown match_minhash_index overrides: {sorted(unknown)}")
    if drift:
        raise ValueError(
            f"index at {path} was written with different parameters: "
            + ", ".join(f"{k}={got!r} vs stored {want!r}" for k, (got, want) in drift.items())
        )
    num_hashes, bands = meta["num_hashes"], meta["bands"]
    unit, shingle_k, fast = meta["unit"], meta["shingle_k"], meta["fast"]
    new_reps = _minhash_reps(
        new_df, id_col, text_col, num_hashes, unit, shingle_k, fast
    ).persist()
    new_banded = new_reps.select(
        "_id", F.explode(_band_keys(num_hashes, bands, fast)).alias("_band")
    )
    base_banded = idx.read(spark, "bands")
    base_reps = idx.read(spark, "reps")
    cand = (
        new_banded.alias("l")
        .join(base_banded.alias("r"), on="_band")
        .select(F.col("l._id").alias("new_id"), F.col("r._id").alias("base_id"))
        .distinct()
    )
    out = _jaccard_verify(
        cand, new_reps, base_reps, "new_id", "base_id", threshold
    ).localCheckpoint(eager=True)
    new_reps.unpersist()
    return out


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "hashmin",
) -> DataFrame:
    """Connected components over a near-dup pair graph → cluster
    assignment: every node labeled with the MIN id reachable from it
    (the canonical representative a dedup pipeline keeps).

    Distributed HashMin label propagation: each iteration every node
    takes the min label among itself and its neighbors — converges in
    O(graph diameter) rounds, and near-dup clusters are shallow (dup
    clusters are cliques or short chains from the LSH band structure),
    so 3-5 rounds in practice. Per round: one join + one groupBy-min,
    both shuffling only (id, label) longs; lineage is truncated with a
    localCheckpoint per round so plans don't grow unboundedly, and the
    convergence check rides the round's own aggregate (the old label
    tags through as _old), so it costs a cache filter-count instead of
    a node-sized join (EXP_CC_FUSED_CHANGED.json).

    ``algorithm="star"`` switches to alternating large-star/small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): converges in O(log n) rounds on ANY graph shape
    — the variant for adversarial long-chain/high-diameter graphs,
    where HashMin needs O(diameter) rounds. Dedup graphs (shallow
    cliques/short chains from LSH banding) don't need it: on 2M
    5-cliques HashMin ran 17.6/18.8 s vs star 30.9/25.6 s
    (EXP_CC_CLIQUES*.json). Property tests pin both variants
    label-equal.

    Output: (id, comp) for every id appearing in ``pairs``. Singleton
    documents (no near-dup edge) are their own component and are left
    out — callers union them back if needed.
    """
    if algorithm == "star":
        return _connected_components_star(pairs, a_col, b_col, max_iter)
    if algorithm != "hashmin":
        raise ValueError(f"unknown algorithm {algorithm!r} ('hashmin' or 'star')")
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    # The symmetrized edge list is STATIC across rounds, so its working
    # set is the adjacency frame keyed by dst (labels arrive keyed by
    # id == dst; operators._iterloop.adjacency_cache): one row per node,
    # cached sorted within partitions, so each round's SortMergeJoin
    # streams node-count rows with no cached-side exchange or sort, and
    # the caller's pair-building subtree runs once instead of once per
    # round. Measured on this loop at sf10: 116.0 s vs 152.4 s for a
    # flat copartitioned edge cache (EXP_ADJ_FAMILY.json). The initial
    # label table is the adjacency key set (every node appears as dst
    # in the symmetrized list), so no distinct() runs over the edges.
    # No SHUFFLE_HASH hint on the label side (inverted at sf10,
    # EXP_SHJ_SF10B.json, pitfall 24); Catalyst broadcasts the
    # checkpointed label table off its propagated stats below ~4M
    # nodes.

    both = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    adj, _ = adjacency_cache(both, key="dst", neighbor="src")
    ckpt = (
        adj.select(F.col("dst").alias("id"))
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    labels = ckpt
    for _ in range(max_iter):
        # the convergence check rides the round's OWN aggregate
        # (EXP_CC_FUSED_CHANGED.json): each node's old label is tagged
        # through the groupBy-min as _old (exactly one labels row per
        # id — neighbor rows carry NULL, max() ignores them), so
        # `changed` is a filter-count over the just-checkpointed cache
        # instead of a node-sized new⋈old join per round
        nbr_min = adj.join(labels, adj["dst"] == labels["id"]).select(
            F.explode("_nbrs").alias("id"),
            F.col("comp"),
            F.lit(None).cast(dict(labels.dtypes)["comp"]).alias("_old"),
        )
        tagged = labels.select("id", "comp", F.col("comp").alias("_old"))
        new = (
            tagged.unionByName(nbr_min)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"), F.max("_old").alias("_old"))
        ).localCheckpoint(eager=True)
        changed = new.filter(F.col("comp") != F.col("_old")).count()
        release_checkpoint(ckpt)  # the dead round
        ckpt = new
        labels = new.select("id", "comp")
        if changed == 0:
            break
    adj.unpersist()  # labels projects the final checkpoint: self-contained
    return labels


def _connected_components_star(
    pairs: DataFrame, a_col: str, b_col: str, max_iter: int
) -> DataFrame:
    """Alternating large-star/small-star rounds (Kiveris et al.,
    SoCC'14). Invariant: the edge set is kept directed large→small and
    distinct. Per round:

    - large-star: over BOTH directions of every edge, each node u
      computes m = min(N(u) ∪ {u}) and links every strictly LARGER
      neighbor to m (plus its own u→m link — redundant but safe, both
      endpoints stay inside u's component, and it speeds propagation).
    - small-star: over the large→small edges, each node u links every
      smaller neighbor (and itself) to m = min of that set.

    Scale shape (r10, measured — EXP_CC_STAR.json): each star step
    is ONE window pass — min(v) and
    row_number share a partitionBy(u).orderBy(v) spec, so the step
    costs one exchange+sort, the self-link u→m is emitted on the
    rn = 1 row, and the node-sized min table plus the edge⋈node join
    the r9 shape paid per step both disappear. Measured paired
    against the r9 shape on the 16.7M-node bipartite graph,
    fingerprint-identical labels: sf1 19.3 s vs 53.2 min-of-2 (2.75×;
    the convergence fix alone reaches 31.1), sf10 89.0 s vs 123.9
    min-of-5 (1.39×) on a host whose old-shape samples span
    124–247 s. The collect_set-regroup sibling arm matched this
    within noise (20.6 / 95.5) but was rejected: its converged
    component-min row holds the WHOLE component in one array (~130 MB
    at sf10's giant component, unbounded at 100 TB) where this
    shape's sort is per-node-degree and spillable. Quiet-host
    regression anchor (r10, BENCH_r10_cc.json, start loadavg 0.18):
    sf1 15.4 s / sf10 86.1 s min-of-2 — beating HashMin (29.1 /
    128.1) on the same runs at both scales, an inversion of the r9
    standings (174.2 vs 116.0). No per-step distinct:
    cross-row duplicate links ride into the next step's window (min
    is duplicate-blind) and die in the per-round distinct that
    maintains the edge-set invariant. Sorting is per-node-degree and
    spillable — unlike a collect_set regroup (the measured sibling
    arm), no row ever holds a whole component. Convergence: the edge
    sets are DISTINCT, so |new| = |prev| ∧ new∖prev = ∅ ⟹ equality —
    a count precheck gates ONE left-anti join, and since every
    non-final round changes the edge count, the usual round pays ZERO
    convergence shuffles (the r9 shape paid two full exceptAll passes
    every round). Lineage truncates per round via localCheckpoint.
    Converges in O(log n) rounds on any shape — including paths,
    where HashMin needs O(n).

    Id typing: integer ids are normalized to long (8-byte shuffle keys,
    the fast path); any other id type (string fingerprints, ...) is kept
    as-is — min/greatest/least/sort only need a total order, matching
    the hashmin variant's accept-any-id contract. (Casting strings to
    long would silently NULL them out.)"""
    from pyspark.sql import Window
    from pyspark.sql.types import IntegralType

    fields = dict((f.name, f.dataType) for f in pairs.schema.fields)
    integral = all(
        isinstance(fields[c], IntegralType) for c in (a_col, b_col)
    )
    ua = F.col(a_col).cast("long") if integral else F.col(a_col)
    vb = F.col(b_col).cast("long") if integral else F.col(b_col)
    edges = (
        pairs.select(ua.alias("u"), vb.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = edges.count()
    w = Window.partitionBy("u").orderBy("v")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    for _ in range(max_iter):
        nbrs = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        t = nbrs.select(
            "u",
            "v",
            F.least(F.min("v").over(wf), F.col("u")).alias("m"),
            F.row_number().over(w).alias("rn"),
        )
        ls = t.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        ).union(
            t.filter((F.col("rn") == 1) & (F.col("u") != F.col("m"))).select(
                "u", F.col("m").alias("v")
            )
        )
        # small-star input is all v < u, so m = the group min of v
        t2 = ls.select(
            "u",
            "v",
            F.min("v").over(wf).alias("m"),
            F.row_number().over(w).alias("rn"),
        )
        new_edges = (
            t2.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(
                t2.filter(
                    (F.col("rn") == 1) & (F.col("u") != F.col("m"))
                ).select("u", F.col("m").alias("v"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_new = new_edges.count()
        stable = (
            n_new == n_prev
            and new_edges.join(edges, ["u", "v"], "left_anti").count() == 0
        )
        release_checkpoint(edges)  # pitfall 19: the dead round
        edges, n_prev = new_edges, n_new
        if stable:
            break
    comp = edges.select(F.col("u").alias("id"), F.col("v").alias("comp"))
    roots = (
        edges.select(F.col("v").alias("id")).distinct().withColumn("comp", F.col("id"))
    )
    return comp.union(roots).groupBy("id").agg(F.min("comp").alias("comp"))


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_expr: Column | None = None,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact pairwise token-set Jaccard within blocks.

    ``block_expr`` bounds the cross product (default: exact token
    count, which near-identical docs share). At scale, prefer
    minhash_lsh_pairs; this is the exact verifier / small-block tool.
    """
    toks = distinct_tokens(text_col)
    block = block_expr if block_expr is not None else F.size(tokens(text_col))
    base = df.select(
        F.col(id_col).alias("_id"), toks.alias("_toks"), block.alias("_block")
    )
    left, right = base.alias("l"), base.alias("r")
    inter = F.size(F.array_intersect("l._toks", "r._toks"))
    union = F.size(F.array_union("l._toks", "r._toks"))
    return (
        left.join(right, on="_block")
        .filter(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.round(inter / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    unit: str = "shingles",
    shingle_k: int = 3,
) -> DataFrame:
    """Set-containment self-join via rare-first prefix filtering (the
    AllPairs/PPJoin family — Bayardo et al., WWW'07): representative
    pairs where the smaller item set is ≥ ``threshold`` contained in
    the larger, C(A,B) = |A∩B| / min(|A|,|B|). This is the
    subset-duplication class symmetric Jaccard under-scores — a doc
    fully embedded in one 3× its size has C = 1.0 but J ≈ 0.33,
    invisible to ``minhash_lsh_pairs`` at any useful threshold.

    Plan (candidate pruning is LOSSLESS — no LSH-style recall loss):
    1. distinct items per doc (k-token shingles by default:
       order-sensitive, the substring-containment signal; 'tokens' for
       bag semantics); identical item sets collapse to one
       representative (min id) first, so exact-dup clusters never
       reach the pair stage.
    2. global item document-frequency; each rep orders its items
       rarest-first — the standard prefix-filter ordering that keeps
       stopword-grade hot postings out of every prefix. The filter
       stages (df, rank, candidate join) run on xxhash64(item) longs,
       not shingle strings — 8-byte shuffle keys; still lossless,
       see the inline note (r12).
    3. PREFIX explode: the first m - ⌈t·m⌉ + 1 items per rep
       (floor-based integer bound — conservative by at most one item,
       immune to FP-ceil drift). Pigeonhole: if C(A,B) ≥ t with
       m = |A| ≤ |B|, A shares ≥ ⌈t·m⌉ items with B, so at least one
       of A's m - ⌈t·m⌉ + 1 rarest items lands in B; joining every
       rep's prefix against the FULL postings therefore misses no
       qualifying pair.
    4. exact verify on the candidate (id, id) pairs only — item arrays
       re-attach by id afterwards, so the postings shuffle never
       carries document content.

    At 100 TB: shuffles carry (item, id, m) postings and (id, id)
    pairs; a prefix item's join fan-out is its document frequency, and
    rarest-first ordering makes high-df items reachable only from reps
    whose whole set is high-df, keeping hot postings bounded. Output:
    (id_a, id_b, containment, jaccard), id_a < id_b over reps.

    Measured: 23 s warm at sf1 (50 k docs, 51 k pairs). Candidate
    volume is Σ_prefix-items df(item) — the near-miss mass a LOSSLESS
    join must verify by definition. The ×100 salted scale dirs are the
    adversarial worst case: every doc has ~100 cousins engineered to
    sit just BELOW both thresholds (J ≈ 0.75, C ≈ 0.86 — candidates
    that always fail verification), so candidates grow quadratically
    in the duplication factor and sf10 is infeasible there — for the
    composed pipeline too (`dedup_pipeline_containment`), since
    upstream near-dedup can't remove what's below its own threshold.
    Run it AFTER near-dedup regardless (removes the removable mass;
    the natural pipeline order — containment exists to catch what
    Jaccard already missed), and on corpora with heavy sub-threshold
    near-miss structure prefer the banded/LSH family, which trades
    exactly this worst case for probabilistic recall.
    """
    from pyspark.sql import Window

    from .text import shingles

    if unit == "shingles":
        raw = shingles(text_col, shingle_k)
    elif unit == "tokens":
        raw = tokens(text_col)
    else:
        raise ValueError(f"unknown unit {unit!r} (expected 'shingles' or 'tokens')")
    items = F.array_sort(
        F.filter(F.array_distinct(raw), lambda x: x != F.lit(""))
    )
    # collapse identical item sets (groupBy on the sorted array —
    # Spark hashes complex types natively; no fingerprint detour)
    reps = (
        df.select(F.col(id_col).alias("_id"), items.alias("_items"))
        .filter(F.size("_items") > 0)
        .groupBy("_items")
        .agg(F.min("_id").alias("_id"))
        .persist()
    )
    # Filter stages run on xxhash64(item) LONGS, not shingle strings
    # (r12, EXP_CONTAINMENT_PHASES.json): the dfreq aggregation, the
    # rarest-first window sort and the candidate join shuffle 8-byte
    # keys instead of ~25-40-byte shingles. LOSSLESS: prefix filtering
    # needs only (a) a global total order consistent across docs —
    # (dfreq, hash) is one; the pigeonhole suffix bound counts ARRAY
    # ELEMENTS (distinct strings), which collisions never merge into
    # one row — and (b) an equality join, where hash-equality
    # candidates are a SUPERSET of string-equality candidates; the
    # exact verify on true item arrays below discards any excess, so
    # the emitted pair set is bit-identical (oracle-checked). Persisted
    # ONCE: dfreq, the ranked join and the candidate probe side all
    # consume this frame — unpersisted with reps at the end.
    posts = (
        reps.select(
            "_id", F.size("_items").alias("_m"), F.explode("_items").alias("_item")
        )
        .withColumn("_item", F.xxhash64("_item"))
        .persist()
    )
    dfreq = posts.groupBy("_item").agg(F.count(F.lit(1)).alias("_dfreq"))
    # prefix bound: floor(t·m) ≤ ⌈t·m⌉ always, so the floor-based
    # prefix is ≥ the exact one — lossless under FP representation of
    # t·m (0.9·10 = 9.000000…2 would ceil to 10 and DROP a qualifying
    # pair; floor stays at 9)
    prefix_len = F.col("_m") - F.floor(F.lit(threshold) * F.col("_m")).cast("int") + 1
    ranked = posts.join(dfreq, "_item").withColumn(
        "_rk",
        F.row_number().over(Window.partitionBy("_id").orderBy("_dfreq", "_item")),
    )
    prefix = ranked.filter(F.col("_rk") <= prefix_len).select("_id", "_item")
    cand = (
        prefix.alias("p")
        .join(posts.select("_id", "_item").alias("t"), on="_item")
        .filter(F.col("p._id") != F.col("t._id"))
        .select(
            F.least("p._id", "t._id").alias("id_a"),
            F.greatest("p._id", "t._id").alias("id_b"),
        )
        .distinct()
    )
    ia = reps.select(F.col("_id").alias("id_a"), F.col("_items").alias("_items_a"))
    ib = reps.select(F.col("_id").alias("id_b"), F.col("_items").alias("_items_b"))
    inter = F.size(F.array_intersect("_items_a", "_items_b"))
    union = F.size(F.array_union("_items_a", "_items_b"))
    smaller = F.least(F.size("_items_a"), F.size("_items_b"))
    out = (
        cand.join(ia, "id_a")
        .join(ib, "id_b")
        .withColumn("containment", F.round(inter / smaller, 4))
        .filter(F.col("containment") >= threshold)
        .select(
            "id_a",
            "id_b",
            "containment",
            F.round(inter / union, 4).alias("jaccard"),
        )
    )
    out = out.localCheckpoint(eager=True)
    posts.unpersist()
    reps.unpersist()
    return out


def simhash16(text_col: Column | str) -> Column:
    """Portable 16-bit SimHash over distinct tokens: bit j is the sign
    of the per-token vote where token votes +1 if hex digit j of
    md5(token) ≥ '8'. Returned as a 16-char '0'/'1' string.

    Production fast path: 64-bit variant over xxhash64 bits (same
    aggregate shape, JVM hash). 16 bits keeps the oracle SQL tractable
    while exercising the identical plan."""
    # md5 each token ONCE, then vote all 16 bits over the hash array
    # as an outer-lambda variable: aggregating over the raw
    # distinct_tokens subtree 16 times (one per bit) re-ran the whole
    # tokenize+md5 chain per bit — the constant-factor cousin of
    # ARCHITECTURE pitfall 16 (16× tokenization + 16× md5/token,
    # value-identical so invisible to the oracle).
    hashes = F.transform(distinct_tokens(text_col), lambda t: F.md5(t))

    def voter(j: int):
        # factory, not a default-arg lambda: a 3-parameter lambda would
        # be dispatched to the wrong higher-order-function variant
        def v(acc: Column, h: Column) -> Column:
            return acc + F.when(
                F.substring(h, j, 1).isin(*"89abcdef"), 1
            ).otherwise(-1)

        return v

    def _build(hv):
        bits = []
        for j in range(1, 17):
            vote = F.aggregate(hv, F.lit(0), voter(j))
            bits.append(F.when(vote > 0, F.lit("1")).otherwise(F.lit("0")))
        return F.concat(*bits)

    return F.transform(F.array(hashes), _build)[0]


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Production 64-bit SimHash over xxhash64 token bits — the fast
    path (JVM hash, no hex strings; not oracle-portable, covered by
    property tests instead).

    Same explode+aggregate shape as the MinHash pipeline: per (doc,
    token) compute the 64-bit hash once, vote each bit ±1, sum votes
    per doc map-side-combinably, reassemble the signature. Output:
    (id, simhash bigint)."""
    exploded = df.select(
        F.col(id_col).alias("_id"),
        F.explode(distinct_tokens(text_col)).alias("_tok"),
    )
    h = F.xxhash64("_tok")
    votes = exploded.groupBy("_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"_v{b}")
            for b in range(64)
        ]
    )
    sig = None
    for b in range(64):
        bit = F.when(F.col(f"_v{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        contrib = F.shiftleft(bit, b)
        sig = contrib if sig is None else sig.bitwiseOR(contrib)
    return votes.select(F.col("_id").alias(id_col), sig.alias("simhash"))


def simhash_clusters(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group documents by identical SimHash signature (candidate
    duplicate clusters). Output: (sig, keep_id, n_docs)."""
    return (
        df.select(F.col(id_col), simhash16(text_col).alias("sig"))
        .groupBy("sig")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def _block_bounds(total: int, blocks: int) -> list[tuple[int, int]]:
    """Partition ``total`` positions into ``blocks`` contiguous
    (start, length) spans, first ``total % blocks`` spans one longer —
    any k-position difference leaves ≥1 of k+1 spans untouched
    (pigeonhole), whatever the span widths."""
    base, rem = divmod(total, blocks)
    bounds, start = [], 0
    for b in range(blocks):
        length = base + (1 if b < rem else 0)
        bounds.append((start, length))
        start += length
    return bounds


def simhash_hamming_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """SimHash near-match pairs at Hamming distance ≤ k — the
    production simhash use (Manku, Jain, Das Sarma, "Detecting
    Near-Duplicates for Web Crawling", WWW'07): identical signatures
    are exact-dup candidates; ALMOST-identical signatures (a few
    flipped bits) are the near-dups simhash exists to find, and the
    banded sub-key trick finds them without an all-pairs scan.

    Algorithm: split the signature into k+1 contiguous blocks — any
    pair within Hamming distance k differs in ≤ k blocks, so by
    pigeonhole it agrees EXACTLY on at least one block. Candidates =
    pairs sharing any (block_idx, block_value) key; each candidate is
    then verified by exact Hamming distance. Lossless for ≤ k (the
    banding only over-generates; the verify filter is exact).

    Identical signatures collapse to one representative (min id)
    BEFORE banding — the minhash_lsh_pairs discipline: exact-dup
    clusters would otherwise re-meet in every block bucket and
    recreate the quadratic pair list (cluster membership itself is
    simhash_clusters' output). Output: (id_a, id_b, hamming ≤ k) over
    representatives, id_a < id_b.

    Portable 16-bit variant (md5-voted bit string, oracle-twinned in
    SQL); simhash64_hamming_pairs is the production 64-bit path. 100 TB
    shape: only (block_key, id, 16-char sig) rows shuffle — the sig
    rides the band explode so verification needs no re-join — and
    per-block bucket fanout is bounded by signature entropy, the same
    candidate-bounding argument as MinHash banding."""
    sigs = df.select(
        F.col(id_col).alias("_id"), simhash16(text_col).alias("_sig")
    )
    reps = sigs.groupBy("_sig").agg(F.min("_id").alias("_id"))
    blocks = k + 1
    banded = reps.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        F.substring("_sig", start + 1, length),
                    )
                    for b, (start, length) in enumerate(_block_bounds(16, blocks))
                ]
            )
        ).alias("_blk"),
    )
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), on="_blk")
        .filter(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("l._sig").alias("_sa"),
            F.col("r._id").alias("id_b"),
            F.col("r._sig").alias("_sb"),
        )
        .distinct()
    )
    # exact Hamming over the 16 bit-chars, unrolled (codegen-friendly;
    # HOF lambdas would stay interpreted for a 16-term sum)
    hamming = sum(
        F.when(
            F.substring("_sa", j, 1) != F.substring("_sb", j, 1), 1
        ).otherwise(0)
        for j in range(1, 17)
    ).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= k)
        .select("id_a", "id_b", "hamming")
    )


def simhash64_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    shared_reps: DataFrame | None = None,
) -> DataFrame:
    """Production 64-bit variant of simhash_hamming_pairs: signatures
    from simhash64 (xxhash64 token bits, one bigint per doc), block
    keys are bit-field extracts (shiftright + mask — 8-byte longs on
    the shuffle, no strings), and the verify is
    bit_count(sig_a XOR sig_b) ≤ k — one JVM popcount per candidate.
    Not oracle-portable (xxhash64); property-tested against the brute
    all-pairs Hamming scan instead. Output: (id_a, id_b, hamming) over
    identical-signature representatives, id_a < id_b.

    ``shared_reps``: a caller that has ALREADY materialized this
    function's representative table — exactly
    ``simhash64(df, id, text).groupBy(_sig).agg(min(_id))`` with
    columns (_sig bigint, _id) — passes it here to skip the signature
    pipeline (the banding-losslessness gate builds the same reps for
    its brute arm; EXP_SIMHASH_LOSSLESS.json fingerprint-asserted
    the shared form identical). The frame must be the same-config
    derivation — a drifted reps table would silently change the pair
    set, so its schema is checked: exactly {_id, _sig} with _sig
    bigint, else ValueError."""
    if shared_reps is not None:
        types = dict(shared_reps.dtypes)
        if set(types) != {"_id", "_sig"} or types["_sig"] != "bigint":
            raise ValueError(
                "shared_reps must have exactly the columns {_id, _sig} with "
                f"_sig bigint; got {shared_reps.dtypes}"
            )
        reps = shared_reps
    else:
        sigs = simhash64(df, id_col, text_col).select(
            F.col(id_col).alias("_id"), F.col("simhash").alias("_sig")
        )
        reps = sigs.groupBy("_sig").agg(F.min("_id").alias("_id"))
    blocks = k + 1
    banded = reps.select(
        "_id",
        "_sig",
        F.explode(
            F.array(
                *[
                    # (block idx, field) packed into one long-pair
                    # struct — struct keys hash-join fine and avoid
                    # string concat on the hot shuffle
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright("_sig", start)
                        .bitwiseAND(F.lit((1 << length) - 1))
                        .alias("v"),
                    )
                    for b, (start, length) in enumerate(_block_bounds(64, blocks))
                ]
            )
        ).alias("_blk"),
    )
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), on="_blk")
        .filter(F.col("l._id") < F.col("r._id"))
        .select(
            F.col("l._id").alias("id_a"),
            F.col("l._sig").alias("_sa"),
            F.col("r._id").alias("id_b"),
            F.col("r._sig").alias("_sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).cast("int")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= k)
        .select("id_a", "id_b", "hamming")
    )


def delete_minhash_index_content(
    takedown_df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
) -> int:
    """CONTENT takedown from a stored MinHash index — the dedup twin
    of similarity.delete_pq_codes, with the semantics a takedown
    actually wants: every index representative whose item set equals
    ANY takedown document's item set is removed (the index stores one
    rep per distinct content, so removing the rep removes the whole
    exact-dup cluster — a DMCA/GDPR request targets the CONTENT, not
    a row id). Because removal is by whole fingerprint-cluster, the
    surviving reps' min-ids are untouched and delete ≡ rebuild-minus-
    that-content EXACTLY (asserted in tests).

    The takedown batch is itemized with the index's own stored
    parameters (unit/shingle_k/fast — a drifted itemization would
    silently delete nothing), matched by item-array equality, and both
    parts are rewritten as new segments (reps minus the matched rows,
    bands minus the removed rep ids) under one manifest commit.
    Returns reps removed.

    Scale shape: the takedown side is bounded (a removal batch);
    reps/bands are scanned once each and rewritten — the rewrite IS
    the compaction a tombstone variant would eventually run."""
    spark = takedown_df.sparkSession
    idx = SI.open_index(path, "minhash", _MINHASH_PARAMS)
    meta = idx.params
    t_items = (
        _minhash_reps(
            takedown_df,
            id_col,
            text_col,
            meta["num_hashes"],
            meta["unit"],
            meta["shingle_k"],
            meta["fast"],
        )
        .select(F.col("items").alias("_t_items"))
        .distinct()
    )
    reps = idx.read(spark, "reps")
    # ONE reps scan serves keep + removed + the count (r12, measured:
    # the former anti-join/semi-join pair scanned and joined reps
    # twice and checkpointed each side separately — EXP_CRUD_PHASES).
    # t_items is distinct, so the left join matches each rep at most
    # once and adds no fan-out.
    flagged = (
        reps.join(t_items, reps["items"] == t_items["_t_items"], "left")
        .withColumn("_rm", F.col("_t_items").isNotNull())
        .drop("_t_items")
        .localCheckpoint(eager=True)
    )
    n_removed = flagged.filter(F.col("_rm")).count()
    # a takedown that matched nothing leaves the index bit-identical,
    # so idempotent re-sends skip the rewrite (2.3 s -> ~1 s at sf0.1)
    if n_removed:
        removed_ids = flagged.filter(F.col("_rm")).select("_id")
        keep_reps = SI.write_part(
            flagged.filter(~F.col("_rm")).drop("_rm"), path, "reps"
        )
        keep_bands = SI.write_part(
            idx.read(spark, "bands").join(removed_ids, "_id", "left_anti"),
            path,
            "bands",
        )
        SI.commit(path, "minhash", meta, {"reps": keep_reps, "bands": keep_bands})
    release_checkpoint(flagged)  # pitfall 19
    return int(n_removed)
