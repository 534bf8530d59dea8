"""The stored-index commit protocol (lrmr_spark.stored_index).

- The crash matrix: every crash point of the module, for every
  lifecycle op of every index family, leaves exactly the pre-op or the
  post-op index readable, and re-running the op converges.
- Pre-manifest layouts are never adopted.
- Catalog index entries are rerun-stable over their fixed temp paths.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from lrmr_spark import stored_index as SI
from lrmr_spark.operators import dedup as DD
from lrmr_spark.operators import multimodal as MM
from lrmr_spark.operators import similarity as SIM
from lrmr_spark.operators import text as TX
from lrmr_spark.tables import load
from tools.ab import fingerprint


class Crash(RuntimeError):
    pass


# ------------------------------------------------------------- inputs
@pytest.fixture(scope="module")
def inputs(spark, sf_dir):
    from lrmr_spark.catalog.similarity_ops import _centroids, _sq8_params

    docs = load(spark, sf_dir, "documents").filter("doc_id < 60").cache()
    emb = load(spark, sf_dir, "embeddings").filter("vec_id < 80").cache()
    mins, scales = _sq8_params()
    return {
        "docs": docs,
        "emb": emb,
        "media": MM.attach_binary_payload(docs, "doc_id", "text").cache(),
        "cents": [list(c) for c in _centroids()[:4]],
        "coarse": [list(c) for c in _centroids()],
        "mins": list(mins),
        "scales": list(scales),
    }


def _lt(df, col, n):
    return df.filter(F.col(col) < n)


def _ge(df, col, n):
    return df.filter(F.col(col) >= n)


_TEACHER = [((j * 37 + 11) % 21) - 10 for j in range(16)]

# op name -> (setup(inputs, path), op(inputs, path)); setup builds the
# pre-op index, op is the lifecycle call under test
OPS = {
    "minhash-write": (
        lambda i, p: DD.write_minhash_index(_lt(i["docs"], "doc_id", 30), "doc_id", "text", p),
        lambda i, p: DD.write_minhash_index(i["docs"], "doc_id", "text", p),
    ),
    "minhash-append": (
        lambda i, p: DD.write_minhash_index(_lt(i["docs"], "doc_id", 30), "doc_id", "text", p),
        lambda i, p: DD.append_minhash_index(_ge(i["docs"], "doc_id", 30), p, "doc_id", "text"),
    ),
    "minhash-delete": (
        lambda i, p: DD.write_minhash_index(i["docs"], "doc_id", "text", p),
        lambda i, p: DD.delete_minhash_index_content(
            i["docs"].filter("doc_id % 4 = 1"), p, "doc_id", "text"
        ),
    ),
    "winnowing-write": (
        lambda i, p: TX.write_winnowing_index(_lt(i["docs"], "doc_id", 30), p, epoch=0),
        lambda i, p: TX.write_winnowing_index(_ge(i["docs"], "doc_id", 30), p, epoch=1),
    ),
    "winnowing-replay": (
        lambda i, p: TX.write_winnowing_index(_lt(i["docs"], "doc_id", 30), p, epoch=0),
        lambda i, p: TX.write_winnowing_index(_lt(i["docs"], "doc_id", 40), p, epoch=0),
    ),
    "winnowing-delete": (
        lambda i, p: [
            TX.write_winnowing_index(_lt(i["docs"], "doc_id", 30), p, epoch=0),
            TX.write_winnowing_index(_ge(i["docs"], "doc_id", 30), p, epoch=1),
        ],
        lambda i, p: TX.delete_winnowing_index_ids(i["docs"].sparkSession, p, list(range(0, 60, 3))),
    ),
    "winnowing-compact": (
        lambda i, p: [
            TX.write_winnowing_index(_lt(i["docs"], "doc_id", 30), p, epoch=0),
            TX.write_winnowing_index(_ge(i["docs"], "doc_id", 30), p, epoch=1),
        ],
        lambda i, p: TX.compact_winnowing_index(i["docs"].sparkSession, p),
    ),
    "line-write": (
        lambda i, p: TX.write_line_index(_lt(i["docs"], "doc_id", 30), p, epoch=0),
        lambda i, p: TX.write_line_index(_ge(i["docs"], "doc_id", 30), p, epoch=1),
    ),
    "line-compact": (
        lambda i, p: [
            TX.write_line_index(_lt(i["docs"], "doc_id", 30), p, epoch=0),
            TX.write_line_index(_ge(i["docs"], "doc_id", 30), p, epoch=1),
        ],
        lambda i, p: TX.compact_line_index(i["docs"].sparkSession, p),
    ),
    "quality_model-write": (
        lambda i, p: TX.write_quality_model(i["docs"], p, "text", _TEACHER, iterations=1),
        lambda i, p: TX.write_quality_model(i["docs"], p, "text", _TEACHER, iterations=2),
    ),
    "quality_model-delete": (
        lambda i, p: TX.write_quality_model(i["docs"], p, "text", _TEACHER, iterations=1),
        lambda i, p: TX.delete_quality_model(i["docs"].sparkSession, p),
    ),
    "phash-write": (
        lambda i, p: MM.write_phash_index(_lt(i["media"], "media_id", 30), p),
        lambda i, p: MM.write_phash_index(i["media"], p),
    ),
    "phash-delete": (
        lambda i, p: MM.write_phash_index(i["media"], p),
        lambda i, p: MM.delete_phash_index_content(i["media"].filter("media_id % 4 = 1"), p),
    ),
    "pq-write": (
        lambda i, p: SIM.write_pq_codes(_lt(i["emb"], "vec_id", 40), p, i["cents"]),
        lambda i, p: SIM.write_pq_codes(i["emb"], p, i["cents"]),
    ),
    "pq-append": (
        lambda i, p: SIM.write_pq_codes(_lt(i["emb"], "vec_id", 40), p, i["cents"]),
        lambda i, p: SIM.append_pq_codes(i["emb"], p, i["cents"]),
    ),
    "pq-delete": (
        lambda i, p: SIM.write_pq_codes(i["emb"], p, i["cents"]),
        lambda i, p: SIM.delete_pq_codes(i["emb"].sparkSession, p, list(range(0, 80, 3))),
    ),
    "ivfpq-write": (
        lambda i, p: SIM.write_ivfpq_index(_lt(i["emb"], "vec_id", 40), p, i["coarse"], i["cents"]),
        lambda i, p: SIM.write_ivfpq_index(i["emb"], p, i["coarse"], i["cents"]),
    ),
    "ivfpq-append": (
        lambda i, p: SIM.write_ivfpq_index(_lt(i["emb"], "vec_id", 40), p, i["coarse"], i["cents"]),
        lambda i, p: SIM.append_ivfpq_index(i["emb"], p, i["coarse"], i["cents"]),
    ),
    "ivfpq-delete": (
        lambda i, p: SIM.write_ivfpq_index(i["emb"], p, i["coarse"], i["cents"]),
        lambda i, p: SIM.delete_ivfpq_index(i["emb"].sparkSession, p, list(range(0, 80, 3))),
    ),
    "sq8-write": (
        lambda i, p: SIM.write_sq8_codes(_lt(i["emb"], "vec_id", 40), p, i["mins"], i["scales"]),
        lambda i, p: SIM.write_sq8_codes(i["emb"], p, i["mins"], i["scales"]),
    ),
    "sq8-append": (
        lambda i, p: SIM.write_sq8_codes(_lt(i["emb"], "vec_id", 40), p, i["mins"], i["scales"]),
        lambda i, p: SIM.append_sq8_codes(i["emb"], p, i["mins"], i["scales"]),
    ),
    "sq8-delete": (
        lambda i, p: SIM.write_sq8_codes(i["emb"], p, i["mins"], i["scales"]),
        lambda i, p: SIM.delete_sq8_codes(i["emb"].sparkSession, p, list(range(0, 80, 3))),
    ),
}

# drop_index has no segment write and no GC sweep: its commit is the
# removal of the latest manifest, and its steps are _remove calls
_DROP_POINTS = ("before_manifest", "after_manifest")
POINTS = ("mid_segment_write", "before_manifest", "after_manifest", "before_gc", "mid_gc")
CASES = [
    (op, pt)
    for op in OPS
    for pt in (_DROP_POINTS if op == "quality_model-delete" else POINTS)
]


def _state(spark, path):
    """Everything a reader sees: family, params and a fingerprint per
    part (None for no index)."""
    if not SI.exists(path):
        return None
    idx = SI.open_index(path, None)
    return (
        idx.family,
        idx.params,
        {n: fingerprint(idx.read(spark, n)) for n in sorted(idx.parts)},
    )


@pytest.fixture(scope="module")
def baselines(spark, inputs, tmp_path_factory):
    """Per op: a template dir holding the pre-op index, and the pre-op
    and post-op states of an uninterrupted run (computed on first use)."""
    root = tmp_path_factory.mktemp("crash_baselines")
    cache = {}

    def get(op):
        if op not in cache:
            setup, run = OPS[op]
            template = str(root / op / "template")
            setup(inputs, template)
            pre = _state(spark, template)
            clean = str(root / op / "clean")
            shutil.copytree(template, clean)
            run(inputs, clean)
            cache[op] = (template, pre, _state(spark, clean))
        return cache[op]

    return get


def _inject(monkeypatch, op, point):
    """Make ``point`` of the stored-index protocol raise, by patching
    the module's own step functions."""
    real_write, real_commit = SI._write_segment, SI.commit_manifest
    real_gc, real_remove = SI._gc, SI._remove
    if op == "quality_model-delete":
        calls = []

        def remove(p):
            calls.append(p)
            if len(calls) == (1 if point == "before_manifest" else 2):
                raise Crash(point)
            real_remove(p)

        monkeypatch.setattr(SI, "_remove", remove)
    elif point == "mid_segment_write":

        def write(frame, target, key):
            # the Spark job itself fails after its tasks start
            bad = frame.filter(
                F.when(F.rand() >= 0, F.raise_error(F.lit("crash"))).isNull()
            )
            real_write(bad, target, key)
            raise Crash(point)  # an empty frame runs no failing task

        monkeypatch.setattr(SI, "_write_segment", write)
    elif point == "before_manifest":

        def commit(path, manifest):
            raise Crash(point)

        monkeypatch.setattr(SI, "commit_manifest", commit)
    elif point == "after_manifest":

        def commit(path, manifest):
            real_commit(path, manifest)
            raise Crash(point)

        monkeypatch.setattr(SI, "commit_manifest", commit)
    elif point == "before_gc":

        def gc(root, manifest):
            raise Crash(point)

        monkeypatch.setattr(SI, "_gc", gc)
    else:  # mid_gc: the second removal fails (or the end of a shorter GC)

        def gc(root, manifest):
            calls = []

            def remove(p):
                calls.append(p)
                if len(calls) == 2:
                    raise Crash(point)
                real_remove(p)

            monkeypatch.setattr(SI, "_remove", remove)
            real_gc(root, manifest)
            raise Crash(point)

        monkeypatch.setattr(SI, "_gc", gc)


@pytest.mark.parametrize("op,point", CASES, ids=[f"{o}-{p}" for o, p in CASES])
def test_crash_matrix(spark, inputs, baselines, tmp_path, monkeypatch, op, point):
    template, pre, post = baselines(op)
    assert pre != post
    path = str(tmp_path / "idx")
    shutil.copytree(template, path)
    _inject(monkeypatch, op, point)
    with pytest.raises(Exception):
        OPS[op][1](inputs, path)
    monkeypatch.undo()
    # exactly the pre-op or the post-op index, never a missing path
    assert _state(spark, path) in (pre, post)
    # re-running the interrupted op converges to the uninterrupted run
    OPS[op][1](inputs, path)
    assert _state(spark, path) == post


# ------------------------------------------------- protocol details
def test_manifest_round_trips_params(tmp_path):
    """Params survive the commit exactly (types included); every
    commit is one atomic new version, the latest wins, and an index
    commit keeps only the latest manifest on disk."""
    path = str(tmp_path / "m")
    params = {"k": 9, "fast": True, "unit": "multiset", "ratio": 0.5}
    part = SI.Part('{"type":"struct","fields":[]}')
    SI.commit(path, "demo", params, {"t": part})
    SI.commit(path, "demo", dict(params, k=10), {"t": part})
    assert SI.list_versions(path) == [2]
    idx = SI.open_index(path, "demo", ("k", "fast"))
    assert idx.params == dict(params, k=10)
    with pytest.raises(ValueError, match="not a 'other' index"):
        SI.open_index(path, "other")


def test_non_local_index_path_raises(tmp_path):
    with pytest.raises(ValueError, match="local filesystem"):
        SI.open_index("s3a://bucket/idx", "pq")
    assert SI.local_path(f"file://{tmp_path}/x") == f"{tmp_path}/x"


def test_compaction_folds_every_epoch_under_dynamic_leak(spark, inputs, tmp_path):
    """A session-level dynamic partitionOverwriteMode (leaked by some
    other writer) cannot leave old epochs alive through a compaction:
    segments are never overwritten in place, and the commit replaces
    the whole part."""
    path = str(tmp_path / "lidx")
    docs = inputs["docs"]
    for e in range(3):
        TX.write_line_index(docs.filter(F.col("doc_id") % 3 == e), path, epoch=e)
    before = fingerprint(
        SI.read_part(spark, path, "counts").groupBy("h").agg(F.sum("df"))
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        assert TX.compact_line_index(spark, path) == 3
        assert TX.compact_winnowing_index(spark, _winnowing(inputs, tmp_path)) == 2
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    counts = SI.read_part(spark, path, "counts")
    assert [r[0] for r in counts.select("_epoch").distinct().collect()] == [0]
    assert fingerprint(counts.groupBy("h").agg(F.sum("df"))) == before
    assert os.listdir(f"{path}/counts") == ["_epoch=0"]


def _winnowing(inputs, tmp_path):
    path = str(tmp_path / "widx")
    TX.write_winnowing_index(_lt(inputs["docs"], "doc_id", 30), path, epoch=0)
    TX.write_winnowing_index(_ge(inputs["docs"], "doc_id", 30), path, epoch=1)
    return path


def test_reads_run_no_metadata_job(spark, inputs, tmp_path, jobs_in_group):
    """Opening an index and planning a part scan run no Spark job: the
    manifest is plain JSON and the schema is recorded."""
    path = str(tmp_path / "pq")
    SIM.write_pq_codes(inputs["emb"], path, inputs["cents"])
    _, jobs = jobs_in_group(
        "si-read",
        lambda: SIM.pq_adc_topk_stored(spark, path, [0.0] * 64, inputs["cents"]),
    )
    assert jobs == []



def test_reads_past_listing_threshold_run_no_job(spark, inputs, tmp_path, jobs_in_group):
    """40 single-row appends leave 41 live segments, more than Spark
    lists on the driver in one scan; planning the stored query still
    runs no Spark job, and the read sees every row once."""
    path = str(tmp_path / "pq")
    emb = inputs["emb"]
    SIM.write_pq_codes(_lt(emb, "vec_id", 40), path, inputs["cents"])
    for i in range(40, 80):
        SIM.append_pq_codes(emb.filter(F.col("vec_id") == i), path, inputs["cents"])
    assert len(SI.open_index(path, "pq").parts["codes"].segments) == 41
    _, jobs = jobs_in_group(
        "si-read-41",
        lambda: SIM.pq_adc_topk_stored(spark, path, [0.0] * 64, inputs["cents"]),
    )
    assert jobs == []
    ids = [r[0] for r in SI.read_part(spark, path, "codes").select("vec_id").collect()]
    assert sorted(ids) == sorted(r[0] for r in emb.select("vec_id").collect())

# -------------------------------------------- pre-manifest layouts
# one catalog entry per index family
FAMILY_ENTRIES = [
    "dedup_minhash_index_append",
    "text_line_dedup_index",
    "text_winnowing_index",
    "ann_pq_stored_topk",
    "ann_ivfpq_topk",
    "ann_sq8_stored_topk",
    "multimodal_phash_index_match",
    "corpus_bloom_stored",
    "docs_quality_model_score",
]


def _run_entry(spark, sf_dir, name, tmp, monkeypatch):
    from lrmr_spark.catalog import queries

    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    return fingerprint(queries()[name](spark, sf_dir))


def _seed_pre_manifest_layout(index_dir, seed_from):
    """Rewrite a committed index as the layout that predates the
    manifest: a ``_meta`` JSON row of its params and each part's parquet
    files (twice over, so adopting them would change every answer)
    directly under ``<part>/``, keyed dirs kept."""
    m = SI.read_manifest(seed_from)
    for name, part in m["parts"].items():
        for i, seg in enumerate(part["segments"]):
            dst = os.path.join(index_dir, os.path.dirname(seg))
            os.makedirs(dst, exist_ok=True)
            for f in os.listdir(os.path.join(seed_from, seg)):
                if f.endswith(".parquet"):
                    for copy in range(2):
                        shutil.copy(
                            os.path.join(seed_from, seg, f),
                            os.path.join(dst, f"c{copy}-{i}-{f}"),
                        )
    os.makedirs(os.path.join(index_dir, "_meta"))
    with open(os.path.join(index_dir, "_meta", "part-00000.json"), "w") as f:
        json.dump(m["params"], f)


@pytest.mark.parametrize("name", FAMILY_ENTRIES)
def test_entry_rerun_stable_and_never_adopts_pre_manifest_layout(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    """Each index family's catalog entry gives the same fingerprint
    twice over its fixed temp path, and the same again when its index
    paths start out holding a pre-manifest layout, which the entry's
    write replaces."""
    fresh = tmp_path / "fresh"
    fresh.mkdir()
    first = _run_entry(spark, sf_dir, name, fresh, monkeypatch)
    assert _run_entry(spark, sf_dir, name, fresh, monkeypatch) == first
    seeded = tmp_path / "seeded"
    seeded.mkdir()
    indexes = [d for d in os.listdir(fresh) if d.startswith("lrmr_")]
    assert indexes
    for d in indexes:
        if SI.exists(str(fresh / d)):
            _seed_pre_manifest_layout(str(seeded / d), str(fresh / d))
    assert _run_entry(spark, sf_dir, name, seeded, monkeypatch) == first
    def layout(root):
        return sorted(e for e in os.listdir(root) if not e.startswith("_MANIFEST-v"))

    for d in indexes:
        if SI.exists(str(fresh / d)):
            assert layout(seeded / d) == layout(fresh / d)
            assert "_meta" not in layout(seeded / d)
