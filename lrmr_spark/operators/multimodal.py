"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched Pandas UDFs.

The Spark-side architecture is real and tested — schema, partitioning,
mapInPandas batch shape, metadata extraction. The *codec* step (actual
image/audio decode) is stubbed: the decode libraries aren't in this
container, so ``decode_media`` raises NotImplementedError unless
``fake=True``, which substitutes a deterministic byte-statistics
"feature extractor" with the exact same plumbing.

At 100 TB: binary payloads ride in parquet binary columns (or file
references resolved inside the UDF); batches stream through
mapInPandas so no single task materializes more than
``spark.sql.execution.arrow.maxRecordsPerBatch`` payloads; metadata
columns (codec, size, dims) live beside the blob so filters prune
without touching bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import stored_index as SI
from ._iterloop import release_checkpoint

__all__ = [
    "MEDIA_SCHEMA",
    "attach_binary_payload",
    "binary_metadata",
    "decode_media",
    "sample_frames",
    "phash_media",
    "phash_hamming_pairs",
    "write_phash_index",
    "match_phash_index",
    "delete_phash_index_content",
]

# typed metadata travels beside the opaque payload so predicate pushdown
# and column pruning work without touching bytes
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)


def attach_binary_payload(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Build a media-shaped DF from the documents table: utf-8 bytes as
    the opaque payload plus typed metadata (stands in for
    image/audio blobs; the plumbing is identical)."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        payload.alias("payload"),
        F.lit("text/utf-8").alias("codec"),
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
    )


def binary_metadata(df: DataFrame) -> DataFrame:
    """Metadata-only pass: JVM expressions over the binary column
    (length, leading byte, content hash) — no Python, no decode."""
    return df.select(
        "media_id",
        "codec",
        "n_bytes",
        F.ascii(F.decode(F.substring("payload", 1, 1), "utf-8")).alias("first_byte"),
        F.md5("payload").alias("content_md5"),
    )


FEATURE_SCHEMA = (
    "media_id bigint, n_bytes bigint, feat_mean double, feat_min bigint, feat_max bigint"
)


def decode_media(df: DataFrame, fake: bool = False) -> DataFrame:
    """Decode/feature-extract via mapInPandas (Arrow batches).

    With ``fake=True`` a deterministic byte-statistics extractor
    exercises the batch path: per-payload mean/min/max over raw bytes.
    With ``fake=False`` the payloads are decoded as IMAGES via Pillow
    when it is installed (probed at call time — optional_deps.has_pil);
    the same statistics are computed over decoded grayscale pixel
    values instead of raw bytes, through the identical Arrow plumbing.
    Without Pillow the real path raises NotImplementedError.
    """
    from ..optional_deps import has_pil

    if not fake and not has_pil():
        raise NotImplementedError(
            "media decode requires Pillow (PIL), which is not installed; "
            "pass fake=True for the deterministic byte-statistics stub"
        )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                yield _decode_images_pil(pdf)
                continue
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload or b"")
                rows.append(
                    {
                        "media_id": media_id,
                        "n_bytes": len(b),
                        # truncated (not rounded) to 4 decimals via exact
                        # integer math — Python's banker's round() diverges
                        # from SQL round() at .5 boundaries
                        "feat_mean": (sum(b) * 10000 // len(b)) / 10000 if b else 0.0,
                        "feat_min": min(b) if b else 0,
                        "feat_max": max(b) if b else 0,
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "n_bytes", "feat_mean", "feat_min", "feat_max"])

    return df.select("media_id", "payload").mapInPandas(extract, schema=FEATURE_SCHEMA)


def _decode_images_pil(pdf: pd.DataFrame) -> pd.DataFrame:
    """Real image decode (runs only when Pillow is installed): payload
    bytes → grayscale pixel statistics, same truncated-mean discipline
    as the stub so both paths share FEATURE_SCHEMA."""
    import io

    from PIL import Image

    rows = []
    for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
        b = bytes(payload or b"")
        px: list[int] = []
        if b:
            with Image.open(io.BytesIO(b)) as img:
                px = list(img.convert("L").getdata())
        rows.append(
            {
                "media_id": media_id,
                "n_bytes": len(b),
                "feat_mean": (sum(px) * 10000 // len(px)) / 10000 if px else 0.0,
                "feat_min": min(px) if px else 0,
                "feat_max": max(px) if px else 0,
            }
        )
    return pd.DataFrame(
        rows, columns=["media_id", "n_bytes", "feat_mean", "feat_min", "feat_max"]
    )


FRAME_SCHEMA = "media_id bigint, frame_no bigint, frame_bytes bigint, frame_md5 string"


def sample_frames(
    df: DataFrame, frame_size: int = 32, max_frames: int = 4, fake: bool = False
) -> DataFrame:
    """Uniform-stride frame sampling via mapInPandas (Arrow batches) —
    the video-pipeline primitive (sample k frames per clip for feature
    extraction) with the payload treated as a frame sequence.

    ``fake=True`` treats the payload as fixed-size ``frame_size``-byte
    frames and samples ``max_frames`` of them at uniform stride —
    deterministic integer math, identical plumbing. ``fake=False``
    extracts REAL frames with the ffmpeg binary when it is installed
    (probed at call time — optional_deps.has_ffmpeg): payload → temp
    file → ffmpeg stride-sampled PNG frames → digest per frame, all
    inside the task. Without ffmpeg the real path raises
    NotImplementedError.

    At 100 TB: sampling happens INSIDE the UDF against the opaque
    payload, so only the sampled frames' digests/features leave the
    task — never the decoded clip. Batch memory is bounded by
    arrow.maxRecordsPerBatch × payload size.
    """
    import hashlib

    from ..optional_deps import has_ffmpeg

    if not fake and not has_ffmpeg():
        raise NotImplementedError(
            "frame sampling requires the ffmpeg binary, which is not "
            "installed; pass fake=True for the deterministic stub"
        )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                yield _sample_frames_ffmpeg(pdf, max_frames)
                continue
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload or b"")
                total = (len(b) + frame_size - 1) // frame_size
                stride = max(total // max_frames, 1)
                for i in range(max_frames):
                    no = i * stride
                    if no >= total:
                        break
                    frame = b[no * frame_size : (no + 1) * frame_size]
                    rows.append(
                        {
                            "media_id": media_id,
                            "frame_no": no,
                            "frame_bytes": len(frame),
                            "frame_md5": hashlib.md5(frame).hexdigest(),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_no", "frame_bytes", "frame_md5"]
            )

    return df.select("media_id", "payload").mapInPandas(extract, schema=FRAME_SCHEMA)


def _sample_frames_ffmpeg(pdf: pd.DataFrame, max_frames: int) -> pd.DataFrame:
    """Real frame extraction (runs only when ffmpeg is installed):
    write each payload to a temp file, let ffmpeg decode and
    stride-sample up to ``max_frames`` frames as PNGs, digest each.
    Only digests/sizes leave the task — never decoded frames."""
    import hashlib
    import os
    import subprocess
    import tempfile

    rows = []
    for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
        b = bytes(payload or b"")
        if not b:
            continue
        with tempfile.TemporaryDirectory() as td:
            src = os.path.join(td, "clip")
            with open(src, "wb") as f:
                f.write(b)
            subprocess.run(
                [
                    "ffmpeg", "-v", "error", "-i", src,
                    "-vf", f"select='not(mod(n\\,{max(1, max_frames)}))'",
                    "-vsync", "vfr", "-frames:v", str(max_frames),
                    os.path.join(td, "f%03d.png"),
                ],
                check=True,
                capture_output=True,
            )
            for no, name in enumerate(
                sorted(n for n in os.listdir(td) if n.endswith(".png"))
            ):
                with open(os.path.join(td, name), "rb") as f:
                    frame = f.read()
                rows.append(
                    {
                        "media_id": media_id,
                        "frame_no": no,
                        "frame_bytes": len(frame),
                        "frame_md5": hashlib.md5(frame).hexdigest(),
                    }
                )
    return pd.DataFrame(
        rows, columns=["media_id", "frame_no", "frame_bytes", "frame_md5"]
    )


PHASH_SCHEMA = "media_id bigint, n_bytes bigint, phash bigint"


def phash_media(df: DataFrame) -> DataFrame:
    """Perceptual-hash the media payloads: a 16-bit average-hash
    (aHash — the simplest of the open pHash family: dHash/pHash/aHash)
    over the DECODED signal, here the deterministic byte-statistics
    fake decode (real codecs are env-gated, see decode_media): split
    the payload into 16 contiguous blocks, set bit i when block i's
    mean ≥ the whole payload's mean. The comparison is exact integer
    cross-multiplication (block_sum · L ≥ total_sum · block_len) — no
    float means anywhere, so the oracle twin reproduces every bit.

    Same Arrow mapInPandas shape as decode_media: at scale this is
    the one decode pass a media-dedup pipeline runs, emitting an
    8-byte fingerprint per blob; everything downstream (banding,
    Hamming verify) touches fingerprints only, never payload bytes."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload or b"")
                L = len(b)
                h = 0
                if L:
                    bs = -(-L // 16)  # ceil
                    tot = sum(b)
                    for i in range(16):
                        blk = b[i * bs : (i + 1) * bs]
                        if blk and sum(blk) * L >= tot * len(blk):
                            h |= 1 << i
                rows.append(
                    {"media_id": media_id, "n_bytes": L, "phash": h}
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "n_bytes", "phash"]
            )

    return df.select("media_id", "payload").mapInPandas(
        extract, schema=PHASH_SCHEMA
    )


def phash_hamming_pairs(hashes: DataFrame, k: int = 1) -> DataFrame:
    """Near-duplicate media pairs at Hamming distance ≤ k over the
    16-bit perceptual hashes — the simhash_hamming_pairs algorithm
    (Manku WWW'07 pigeonhole banding) on INTEGER block keys: identical
    hashes collapse to a min-id representative first (exact-dup
    cliques never re-meet in buckets), then each rep emits k+1 block
    keys ((block_idx, block_bits) ints — no strings on the shuffle),
    candidates share a key, and the verify is one xor + bit_count.
    Lossless for ≤ k; output pairs are between DISTINCT hashes, so
    hamming ≥ 1 (hamming-0 cliques are the collapse groups
    themselves, the simhash_clusters contract). 100 TB shape: only
    (block_key, id, 8-byte hash) rows shuffle, candidate fanout is
    bounded by hash entropy per block."""
    from .dedup import _block_bounds

    # barrier: the self-join references the rep table twice, and AQE's
    # broadcast conversion defeats ReusedExchange — without this the
    # Arrow DECODE pass runs twice (seen in the plan: two MapInPandas
    # branches). The checkpoint materializes the tiny (hash, id) table
    # once; payload bytes are touched exactly once, as the scale
    # contract promises (the write_ivfpq_index pitfall-12 precedent).
    reps = hashes.groupBy("phash").agg(
        F.min("media_id").alias("media_id")
    ).localCheckpoint(eager=False)
    blocks = k + 1
    banded = reps.select(
        "media_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        (
                            F.shiftright(F.col("phash"), start)
                            % F.lit(1 << length)
                        ).alias("v"),
                    )
                    for b, (start, length) in enumerate(
                        _block_bounds(16, blocks)
                    )
                ]
            )
        ).alias("_blk"),
    )
    return (
        banded.alias("l")
        .join(banded.alias("r"), on="_blk")
        .filter(F.col("l.media_id") < F.col("r.media_id"))
        .select(
            F.col("l.media_id").alias("media_id_a"),
            F.col("r.media_id").alias("media_id_b"),
            F.bit_count(
                F.col("l.phash").bitwiseXOR(F.col("r.phash"))
            ).cast("bigint").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= k)
    )


def write_phash_index(media: DataFrame, path: str) -> None:
    """Materialize the corpus perceptual-hash index ONCE: one
    (phash, media_id) row per DISTINCT hash (min-id representative) —
    the write half of the write_minhash_index discipline for media.
    8 bytes + id per distinct blob signature; payloads are decoded
    exactly once and never stored."""
    reps = (
        phash_media(media)
        .groupBy("phash")
        .agg(F.min("media_id").alias("media_id"))
    )
    hashes = SI.write_part(reps, path, "hashes")
    SI.commit(path, "phash", {"n_bits": 16}, {"hashes": hashes})


def delete_phash_index_content(takedown_media: DataFrame, path: str) -> int:
    """CONTENT takedown from the stored pHash index — the media twin
    of dedup.delete_minhash_index_content, completing the index's
    write → match → DELETE lifecycle (a DMCA/CSAM/GDPR removal
    targets the CONTENT, not a row id): the takedown batch is decoded
    and hashed with the index's own pipeline (one Arrow pass), and
    every stored representative whose signature equals ANY takedown
    blob's signature is removed — the index stores one rep per
    distinct signature, so removing the rep removes the whole
    exact-signature cluster, and delete ≡ rebuild-without-that-
    content EXACTLY (asserted in tests). Idempotent: a second
    identical delete removes 0 rows.

    The survivors are written as a new segment and committed in place
    of the old one; the checkpoint is unpersisted on exit (pitfall
    19). Scale shape: the takedown side is a bounded removal batch;
    the stored table is scanned once and rewritten — the rewrite IS
    the compaction a tombstone variant would eventually run."""
    spark = takedown_media.sparkSession
    idx = SI.open_index(path, "phash", ("n_bits",))
    t_hashes = phash_media(takedown_media).select("phash").distinct()
    stored = idx.read(spark, "hashes")
    # one-scan flag + no-op skip (the delete_pq_codes r12 pattern):
    # t_hashes is distinct, so the left join matches each stored row
    # at most once and adds no fan-out
    flagged = (
        stored.join(
            t_hashes.select(F.col("phash").alias("_t_ph")),
            stored["phash"] == F.col("_t_ph"),
            "left",
        )
        .withColumn("_rm", F.col("_t_ph").isNotNull())
        .drop("_t_ph")
        .localCheckpoint(eager=True)
    )
    n_removed = flagged.filter(F.col("_rm")).count()
    if n_removed:
        survivors = SI.write_part(
            flagged.filter(~F.col("_rm")).drop("_rm"), path, "hashes"
        )
        SI.commit(path, "phash", idx.params, {"hashes": survivors})
    release_checkpoint(flagged)  # pitfall 19
    return int(n_removed)


def match_phash_index(
    batch_media: DataFrame, index_path: str, k: int = 1
) -> DataFrame:
    """Match a batch of NEW media against the stored pHash index at
    Hamming ≤ k: decode+hash the batch (one Arrow pass), band both
    sides with the k+1-block pigeonhole keys, verify candidates with
    one xor + bit_count. Unlike the self-dedup (phash_hamming_pairs),
    hamming 0 IS emitted — an incoming blob that collides exactly
    with an indexed signature is the strongest match. Output:
    (new_id, base_id, hamming), one row per (new blob, indexed rep)
    within k. Only band keys + 8-byte hashes shuffle; the index side
    is distinct-hash-collapsed at write time."""
    from .dedup import _block_bounds

    spark = batch_media.sparkSession
    idx = SI.open_index(index_path, "phash", ("n_bits",))
    n_bits = idx.params["n_bits"]
    blocks = k + 1
    bounds = _block_bounds(n_bits, blocks)

    def banded(df: DataFrame, id_alias: str) -> DataFrame:
        return df.select(
            F.col("media_id").alias(id_alias),
            F.col("phash").alias(f"_{id_alias}_hash"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("b"),
                            (
                                F.shiftright(F.col("phash"), start)
                                % F.lit(1 << length)
                            ).alias("v"),
                        )
                        for b, (start, length) in enumerate(bounds)
                    ]
                )
            ).alias("_blk"),
        )

    new_hashes = banded(phash_media(batch_media), "new_id")
    base = banded(idx.read(spark, "hashes"), "base_id")
    return (
        new_hashes.join(base, on="_blk")
        .select(
            "new_id",
            "base_id",
            F.bit_count(
                F.col("_new_id_hash").bitwiseXOR(F.col("_base_id_hash"))
            )
            .cast("bigint")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= k)
    )
