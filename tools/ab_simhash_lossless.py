"""Paired A/B for dedup_simhash_fast_banding_lossless's shared-reps
restructure (r12 session 4).

The gate entry ran the data-proportional simhash64 signature pipeline
(tokenize → explode → 64-vote aggregate) 3-4 times: once inside the
banded arm, once for the guard count, and once per brute cross-join
side. The restructure materializes the representative table ONCE
(localCheckpoint) and feeds the guard, the banded arm (shared_reps=)
and both cross-join sides from it. All hash arithmetic, block bounds,
verify filters and the full-outer disagreement join are untouched.

Arms (interleaved, same session, fingerprint-asserted identical):
  before: the pre-change body, inlined verbatim below
  after:  the shipped _banding_vs_brute_diffs + entry assembly

Usage: python tools/ab_simhash_lossless.py [sf_dir] [reps]
Writes EXP_SIMHASH_LOSSLESS.json when EXP_OUT is set.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from lrmr_spark.catalog import dedup_ops
from lrmr_spark.operators import dedup as DD
from lrmr_spark.session import get_spark
from lrmr_spark.tables import load


def _sentinel(spark):
    return spark.range(1).select(
        F.lit(-1).cast("long").alias("id_a"),
        F.lit(-1).cast("long").alias("id_b"),
        F.lit(0).cast("int").alias("hamming"),
        F.lit(True).alias("in_banded"),
        F.lit(True).alias("in_brute"),
    )


def _diffs_before(docs, k=3, max_reps=dedup_ops._BRUTE_REPS_BOUND):
    # pre-change body, verbatim (reps rebuilt lazily everywhere)
    banded = DD.simhash64_hamming_pairs(docs, "doc_id", "text", k=k)
    sigs = DD.simhash64(docs, "doc_id", "text").select(
        F.col("doc_id").alias("_id"), F.col("simhash").alias("_sig")
    )
    reps = sigs.groupBy("_sig").agg(F.min("_id").alias("_id"))
    n_reps = reps.count()
    if n_reps > max_reps:
        raise ValueError("guard")
    lft, rgt = reps.alias("l"), reps.alias("r")
    brute = (
        lft.crossJoin(rgt)
        .filter(F.col("l._id") < F.col("r._id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("l._sig").bitwiseXOR(F.col("r._sig"))).cast("int"),
        )
        .filter(F.col("hamming") <= 3)
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


def arm_before(spark, sf_dir: str):
    docs = load(spark, sf_dir, "documents")
    diffs = _diffs_before(docs, k=3)
    return _sentinel(spark).unionAll(diffs).orderBy("id_a", "id_b").collect()


def arm_after(spark, sf_dir: str):
    docs = load(spark, sf_dir, "documents")
    diffs = dedup_ops._banding_vs_brute_diffs(docs, k=3)
    return _sentinel(spark).unionAll(diffs).orderBy("id_a", "id_b").collect()


def fp(rows) -> str:
    h = hashlib.md5()
    for r in rows:
        h.update(
            f"{r['id_a']}|{r['id_b']}|{r['hamming']}|"
            f"{r['in_banded']}|{r['in_brute']};".encode()
        )
    return h.hexdigest()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    if reps < 1:
        sys.exit(f"reps must be at least 1, got {reps}")
    spark = get_spark("ab-simhash-lossless")
    spark.range(1000).selectExpr("sum(id)").collect()
    bt, at, fps = [], [], set()
    for rep in range(reps):
        spark.sparkContext.setJobDescription(f"before rep{rep}")
        t0 = time.time()
        rows_b = arm_before(spark, sf_dir)
        bt.append(round(time.time() - t0, 3))
        fps.add(fp(rows_b))
        spark.sparkContext.setJobDescription(f"after rep{rep}")
        t0 = time.time()
        rows_a = arm_after(spark, sf_dir)
        at.append(round(time.time() - t0, 3))
        fps.add(fp(rows_a))
    assert len(fps) == 1, f"fingerprint drift: {fps}"
    out = {
        "sf_dir": sf_dir,
        "reps": reps,
        "before_s": bt,
        "after_s": at,
        "min_before": min(bt),
        "min_after": min(at),
        "n_rows": len(rows_a),
        "fingerprint": fps.pop(),
        "loadavg": round(os.getloadavg()[0], 2),
    }
    dest = os.environ.get("EXP_OUT")
    if dest:
        with open(dest, "w") as f:
            json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
