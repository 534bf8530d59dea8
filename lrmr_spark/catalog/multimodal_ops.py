"""Multimodal-column catalog entries: binary payload plumbing with
typed metadata, plus the Arrow-batched fake-decode path.
"""

from __future__ import annotations

from ..operators import multimodal as MM
from ..tables import load
from . import query


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id AS media_id, 'text/utf-8' AS codec,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS first_byte,
           md5(text) AS content_md5
    FROM documents
    """,
)
def multimodal_binary_meta(spark, sf_dir):
    """Opaque binary payload + typed metadata: JVM-only pass (length,
    leading byte, content hash) over the blob column — the pattern that
    lets filters prune 100 TB of media without touching bytes."""
    media = MM.attach_binary_payload(load(spark, sf_dir, "documents"), "doc_id", "text")
    return MM.binary_metadata(media)


@query(
    "multimodal_fake_decode",
    oracle="""
    WITH b AS (
      SELECT doc_id AS media_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1)))
               AS bytes_list
      FROM documents
    )
    SELECT media_id, n_bytes,
           CASE WHEN len(bytes_list) = 0 THEN 0.0
                ELSE floor(list_sum(bytes_list) * 10000.0 / len(bytes_list)) / 10000
           END AS feat_mean,
           CAST(coalesce(list_min(bytes_list), 0) AS BIGINT) AS feat_min,
           CAST(coalesce(list_max(bytes_list), 0) AS BIGINT) AS feat_max
    FROM b
    """,
)
def multimodal_fake_decode(spark, sf_dir):
    """The mapInPandas decode path with the deterministic byte-stats
    stub (real codecs are stubbed behind NotImplementedError — see
    operators.multimodal.decode_media). Verifies the Arrow batch
    plumbing end-to-end: schema, batching, per-payload features.

    Oracle caveat: the SQL recomputes byte stats via ascii(), valid
    because the corpus is pure ASCII; the Spark path operates on raw
    bytes and handles arbitrary binary."""
    media = MM.attach_binary_payload(load(spark, sf_dir, "documents"), "doc_id", "text")
    return MM.decode_media(media, fake=True)


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH b AS (
      SELECT doc_id AS media_id, text,
             CAST(ceil(length(text) / 32.0) AS BIGINT) AS total
      FROM documents),
    f AS (
      SELECT media_id, text, total, i * greatest(total // 4, 1) AS frame_no
      FROM b, unnest(range(0, 4)) AS t(i)
      WHERE i * greatest(total // 4, 1) < total)
    SELECT media_id, frame_no,
           CAST(length(substr(text, frame_no * 32 + 1, 32)) AS BIGINT) AS frame_bytes,
           md5(substr(text, frame_no * 32 + 1, 32)) AS frame_md5
    FROM f ORDER BY media_id, frame_no
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Uniform-stride frame sampling through the Arrow-batched
    mapInPandas path (operators.multimodal.sample_frames; real ffmpeg
    seek stubbed per environment). 32-byte frames, ≤4 samples per
    payload at uniform stride; only frame digests leave the task. The
    oracle recomputes frames via substr — valid because the corpus is
    ASCII (1 char = 1 byte); the Spark path slices raw bytes."""
    media = MM.attach_binary_payload(load(spark, sf_dir, "documents"), "doc_id", "text")
    return MM.sample_frames(media, fake=True).orderBy("media_id", "frame_no")


@query(
    "multimodal_phash_dedup",
    oracle="""
    WITH b AS (
      SELECT doc_id AS media_id, text,
             CAST(octet_length(encode(text)) AS BIGINT) AS L,
             CAST(list_sum(list_transform(range(1, length(text) + 1),
               j -> ascii(substr(text, j, 1)))) AS BIGINT) AS tot,
             CAST(ceil(octet_length(encode(text)) / 16.0) AS BIGINT) AS bs
      FROM documents),
    h AS (
      SELECT media_id,
             CASE WHEN L = 0 THEN 0 ELSE CAST(list_sum(
               list_transform(range(0, 16), i -> CASE WHEN
                 least((i + 1) * bs, L) - i * bs > 0 AND
                 coalesce(list_sum(list_transform(
                   range(i * bs + 1, least((i + 1) * bs, L) + 1),
                   j -> ascii(substr(text, j, 1)))), 0) * L
                   >= tot * (least((i + 1) * bs, L) - i * bs)
                 THEN 1 << i ELSE 0 END)) AS BIGINT) END AS phash
      FROM b),
    reps AS (SELECT phash, min(media_id) AS media_id FROM h GROUP BY phash)
    SELECT l.media_id AS media_id_a, r.media_id AS media_id_b,
           CAST(bit_count(xor(l.phash, r.phash)) AS BIGINT) AS hamming
    FROM reps l JOIN reps r ON l.media_id < r.media_id
    WHERE bit_count(xor(l.phash, r.phash)) <= 1
    """,
)
def multimodal_phash_dedup(spark, sf_dir):
    """Perceptual-hash near-duplicate detection for media blobs: the
    image-dedup pipeline a multimodal training corpus runs — decode →
    16-bit average-hash (aHash; the open pHash family) → banded
    Hamming-≤1 pair join. The decode is the deterministic byte-stats
    fake (real codecs env-gated, the decode_media contract); the hash
    construction (block-mean bits via exact integer
    cross-multiplication), the Arrow batch plumbing, the identical-
    hash rep collapse, the integer block-key banding, and the
    xor+bit_count verify are all real and value-checked.

    Oracle: brute-force all-pairs over the collapsed hash table in
    SQL (banding is lossless for ≤ k, so banded == brute force — the
    same claim dedup_simhash_fast_banding_lossless pins for 64-bit
    simhash), byte stats via ascii() (valid: the corpus is pure
    ASCII; the Spark path reads raw bytes). Scale: payloads are
    touched once in the decode pass; the join ships only 8-byte
    hashes + ids, candidate fanout bounded by hash entropy per
    block."""
    media = MM.attach_binary_payload(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )
    return MM.phash_hamming_pairs(MM.phash_media(media), k=1)


_PHASH_H_SQL = """
    b AS (
      SELECT doc_id AS media_id, text,
             CAST(octet_length(encode(text)) AS BIGINT) AS L,
             CAST(list_sum(list_transform(range(1, length(text) + 1),
               j -> ascii(substr(text, j, 1)))) AS BIGINT) AS tot,
             CAST(ceil(octet_length(encode(text)) / 16.0) AS BIGINT) AS bs
      FROM documents),
    h AS (
      SELECT media_id, L AS n_bytes,
             CASE WHEN L = 0 THEN 0 ELSE CAST(list_sum(
               list_transform(range(0, 16), i -> CASE WHEN
                 least((i + 1) * bs, L) - i * bs > 0 AND
                 coalesce(list_sum(list_transform(
                   range(i * bs + 1, least((i + 1) * bs, L) + 1),
                   j -> ascii(substr(text, j, 1)))), 0) * L
                   >= tot * (least((i + 1) * bs, L) - i * bs)
                 THEN 1 << i ELSE 0 END)) AS BIGINT) END AS phash
      FROM b)
"""


@query(
    "multimodal_curation_pipeline",
    oracle=f"""
    WITH {_PHASH_H_SQL},
    meta AS (SELECT doc_id AS media_id, md5(text) AS content_md5
             FROM documents),
    exact_keep AS (SELECT content_md5, min(media_id) AS keep_id
                   FROM meta GROUP BY content_md5),
    e AS (
      SELECT m.media_id, k.keep_id AS exact_rep
      FROM meta m JOIN exact_keep k USING (content_md5)),
    ph AS (
      SELECT h.media_id, h.n_bytes, h.phash
      FROM h JOIN e ON h.media_id = e.media_id
      WHERE h.media_id = e.exact_rep),
    phash_keep AS (SELECT phash, min(media_id) AS keep_id
                   FROM ph GROUP BY phash),
    reps AS (SELECT p.phash, p.media_id FROM ph p
             JOIN phash_keep k ON p.media_id = k.keep_id),
    near_drop AS (
      SELECT DISTINCT r.media_id
      FROM reps l JOIN reps r ON l.media_id < r.media_id
      WHERE bit_count(xor(l.phash, r.phash)) <= 1)
    SELECT h.media_id, h.n_bytes, h.phash,
           CASE WHEN e.media_id <> e.exact_rep THEN 'exact_dup'
                WHEN pk.keep_id <> h.media_id THEN 'phash_dup'
                WHEN nd.media_id IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS stage
    FROM h
    JOIN e ON h.media_id = e.media_id
    LEFT JOIN phash_keep pk ON h.phash = pk.phash
      AND h.media_id = e.exact_rep
    LEFT JOIN near_drop nd ON h.media_id = nd.media_id
    ORDER BY h.media_id
    """,
)
def multimodal_curation_pipeline(spark, sf_dir):
    """The composed media-curation pass a multimodal training corpus
    runs end-to-end, with a per-blob verdict: (1) exact dedup on the
    content hash (pure JVM metadata, payload bytes untouched),
    (2) perceptual-hash collapse — identical aHash among exact reps,
    (3) near-dup drop — an exact-rep phash rep is dropped when a
    SMALLER-id rep sits within Hamming ≤ 1 (the deterministic greedy
    keep rule; banding finds the pairs, losslessness argued at
    multimodal_phash_dedup). Every blob gets a stage label
    ('kept' / 'exact_dup' / 'phash_dup' / 'near_dup'), the audit
    column a curation run ships to its provenance log — the
    multimodal twin of corpus_curation_pipeline.

    Decode runs ONCE (the phash_media Arrow pass; everything
    downstream joins 8-byte hashes + ids); exact dedup never decodes
    at all. Stage precedence matters and is pinned by the pytest:
    an exact-dup follower is 'exact_dup' even when its rep is later
    dropped as a near-dup — provenance records WHY each blob left,
    not the transitive closure."""
    media = MM.attach_binary_payload(
        load(spark, sf_dir, "documents"), "doc_id", "text"
    )
    from pyspark.sql import functions as F

    meta = MM.binary_metadata(media).select("media_id", "content_md5")
    exact_keep = meta.groupBy("content_md5").agg(
        F.min("media_id").alias("exact_rep")
    )
    e = meta.join(exact_keep, "content_md5").select("media_id", "exact_rep")
    hashes = MM.phash_media(media).localCheckpoint(eager=False)
    ph = hashes.join(e, "media_id").filter(
        F.col("media_id") == F.col("exact_rep")
    )
    phash_keep = (
        ph.select(F.col("phash").alias("_pk_phash"), "media_id")
        .groupBy("_pk_phash")
        .agg(F.min("media_id").alias("_pk_keep"))
    )
    reps = (
        ph.join(
            phash_keep,
            (F.col("phash") == F.col("_pk_phash"))
            & (F.col("media_id") == F.col("_pk_keep")),
        )
        .select("media_id", "phash")
        .localCheckpoint(eager=False)
    )
    l, r = reps.alias("l"), reps.alias("r")
    near_drop = (
        l.join(
            r,
            (F.col("l.media_id") < F.col("r.media_id"))
            & (
                F.bit_count(
                    F.col("l.phash").bitwiseXOR(F.col("r.phash"))
                )
                <= 1
            ),
        )
        .select(F.col("r.media_id").alias("media_id"))
        .distinct()
        .withColumn("_nd", F.lit(1))
    )
    out = (
        hashes.join(e, "media_id")
        .join(
            phash_keep,
            F.col("phash") == F.col("_pk_phash"),
            "left",
        )
        .join(near_drop, "media_id", "left")
        .select(
            "media_id",
            "n_bytes",
            "phash",
            F.when(F.col("media_id") != F.col("exact_rep"), "exact_dup")
            .when(F.col("_pk_keep") != F.col("media_id"), "phash_dup")
            .when(F.col("_nd").isNotNull(), "near_dup")
            .otherwise("kept")
            .alias("stage"),
        )
        .orderBy("media_id")
    )
    return out


@query(
    "multimodal_phash_index_match",
    oracle=f"""
    WITH {_PHASH_H_SQL},
    base AS (
      SELECT phash, min(media_id) AS base_id
      FROM h WHERE media_id % 5 <> 0 GROUP BY phash),
    new_side AS (
      SELECT media_id AS new_id, phash FROM h WHERE media_id % 5 = 0)
    SELECT n.new_id, b.base_id,
           CAST(bit_count(xor(n.phash, b.phash)) AS BIGINT) AS hamming
    FROM new_side n JOIN base b
      ON bit_count(xor(n.phash, b.phash)) <= 1
    ORDER BY new_id, base_id
    """,
)
def multimodal_phash_index_match(spark, sf_dir):
    """Match a batch of NEW media against the stored corpus pHash
    index (write once, match per crawl — the media twin of
    dedup_minhash_stored_index): the index holds one (phash, min-id)
    row per distinct signature of the base corpus (media_id MOD 5 ≠
    0); the incoming batch (MOD 5 = 0) is decoded+hashed in one Arrow
    pass and banded against it at Hamming ≤ 1 — hamming 0 IS emitted
    here (an exact signature collision against the index is the
    strongest match), unlike the self-dedup pair entry. Oracle:
    brute-force new × reps in SQL (banding lossless for ≤ k). Only
    band keys + 8-byte hashes shuffle; the index side is
    distinct-hash-collapsed at write time."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_phash_idx_{tag}")
    MM.write_phash_index(
        MM.attach_binary_payload(
            docs.filter(F.col("doc_id") % 5 != 0), "doc_id", "text"
        ),
        path,
    )
    batch = MM.attach_binary_payload(
        docs.filter(F.col("doc_id") % 5 == 0), "doc_id", "text"
    )
    return MM.match_phash_index(batch, path, k=1).orderBy(
        "new_id", "base_id"
    )


@query(
    "multimodal_phash_index_delete",
    oracle=f"""
    WITH {_PHASH_H_SQL},
    base AS (
      SELECT phash, min(media_id) AS base_id
      FROM h WHERE media_id % 5 <> 0 GROUP BY phash),
    takedown AS (
      SELECT DISTINCT phash FROM h WHERE media_id % 10 = 1),
    kept AS (
      SELECT * FROM base
      WHERE phash NOT IN (SELECT phash FROM takedown)),
    new_side AS (
      SELECT media_id AS new_id, phash FROM h WHERE media_id % 5 = 0)
    SELECT n.new_id, b.base_id,
           CAST(bit_count(xor(n.phash, b.phash)) AS BIGINT) AS hamming
    FROM new_side n JOIN kept b
      ON bit_count(xor(n.phash, b.phash)) <= 1
    ORDER BY new_id, base_id
    """,
)
def multimodal_phash_index_delete(spark, sf_dir):
    """The media index TAKEDOWN row, completing the phash lifecycle
    (write → match → DELETE — the story every other stored index
    already tells): the base-corpus index (media_id MOD 5 ≠ 0) has the
    content of the MOD-10 = 1 blobs removed by signature
    (operators/multimodal.py delete_phash_index_content), then the
    incoming batch (MOD 5 = 0) is matched at Hamming ≤ 1 against the
    survivors. The oracle rebuilds the post-delete index from scratch
    (reps minus every signature the takedown content carries), so the
    row is red if the delete removes too little (takedown'd content
    still matches), too much (surviving reps lost), or corrupts
    the params. Double-delete-0 idempotence is asserted inline and in
    tests/test_operators.py."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_phash_didx_{tag}")
    MM.write_phash_index(
        MM.attach_binary_payload(
            docs.filter(F.col("doc_id") % 5 != 0), "doc_id", "text"
        ),
        path,
    )
    takedown = MM.attach_binary_payload(
        docs.filter(F.col("doc_id") % 10 == 1), "doc_id", "text"
    )
    MM.delete_phash_index_content(takedown, path)
    if MM.delete_phash_index_content(takedown, path) != 0:
        raise AssertionError("content delete is not idempotent")
    batch = MM.attach_binary_payload(
        docs.filter(F.col("doc_id") % 5 == 0), "doc_id", "text"
    )
    return MM.match_phash_index(batch, path, k=1).orderBy("new_id", "base_id")


@query("streaming_phash_index_match")  # rows-only: foreachBatch run-mode
def streaming_phash_index_match(spark, sf_dir):
    """The media-dedup crawl loop as a LIVE STREAM (the
    streaming_minhash_index_match discipline for the multimodal
    family): the base corpus's pHash index is written once, then the
    incoming-document stream (MOD-5 batch) is decoded, hashed and
    matched per micro-batch via foreachBatch, matches landing in an
    epoch-partitioned sink under dynamic partition overwrite
    (idempotent under checkpoint replay). Stream ≡ batch asserted in
    tests/test_streaming.py; the match's value check lives in
    multimodal_phash_index_match's hash-green row."""
    import os
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from .. import streaming as ST

    docs = load(spark, sf_dir, "documents")
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(tempfile.gettempdir(), f"lrmr_phash_sidx_{tag}")
    MM.write_phash_index(
        MM.attach_binary_payload(
            docs.filter(F.col("doc_id") % 5 != 0), "doc_id", "text"
        ),
        path,
    )
    run = uuid.uuid4().hex[:8]
    out = os.path.join(tempfile.gettempdir(), f"lrmr_phash_stream_out_{run}")
    ckpt = os.path.join(tempfile.gettempdir(), f"lrmr_phash_stream_ck_{run}")
    matches = ST.run_phash_index_match_stream(
        ST.stream_documents(spark, sf_dir).filter(F.col("doc_id") % 5 == 0),
        path,
        out,
        ckpt,
        k=1,
    )
    return matches.orderBy("new_id", "base_id")
