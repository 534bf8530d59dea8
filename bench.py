"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query executes via count() (forces the full plan without driver
materialization of rows — collect() timing would measure Arrow/driver
transfer, not the engine).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))

from hostcal import host_cal
from lrmr_spark.catalog import queries
from lrmr_spark.session import get_spark

# headline set: one per architectural family (scan+agg, multiway join,
# window, sessionization, near-dedup, similarity, text, pipeline core)
# — totals are compared round-over-round.
# r7 refresh (verdict task 2): the original 11 had been fixed since r1
# and no longer covered the engine's center of mass — three
# representatives were added for the stored-index ANN read path, the
# stored line-dedup index lifecycle, and the iterative graph family.
# The original 11 stay first and their subtotal is reported separately
# (value_legacy11) so pre-r7 totals remain comparable; the 14-query
# total is the headline from r7 on, with BENCH_r07 as its baseline.
HEADLINE = [
    "flagship_event_counts",
    "tpch_q1",
    "tpch_q6_forecast_revenue",
    "join_multiway_region_revenue",
    "window_topk_per_customer",
    "events_sessionization",
    "asof_last_purchase",
    "dedup_tokenset",
    # xxhash64 fast path is the production MinHash config; the md5
    # variant exists for oracle portability and stays out of the bench
    "dedup_minhash_lsh_fast",
    "ann_cosine_topk",
    "text_quality_features",
    # --- added r7: each times its FULL lifecycle (index write + query
    # for the two stored-index entries; 3 synchronous rounds for LPA)
    "ann_ivfpq_topk",
    "text_line_dedup_index",
    "graph_label_propagation",
]
LEGACY11 = HEADLINE[:11]

# reported but NOT in the headline total: the md5 MinHash keeps a
# visible number so cross-round comparisons stay honest after r2
# swapped the headline slot to the xxhash64 fast path (r1's headline
# timed the md5 variant)
EXTRAS = [
    "dedup_minhash_lsh",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("lrmr-spark-bench")
    qs = queries()

    # JVM/python-worker warm-up so per-query numbers measure the engine,
    # not process spin-up (excluded from reported time). The MinHash
    # plan additionally compiles ~1 s of whole-stage codegen on first
    # use; warming it at the smallest SF amortizes compilation exactly
    # the way a long-running cluster does — steady-state per-query cost
    # is what the headline measures.
    spark.range(1000).selectExpr("sum(id)").collect()
    qs["flagship_event_counts"](spark, sf_dir).count()
    qs["dedup_minhash_lsh_fast"](spark, "/root/testdata/sf0.001").count()

    # build/serve split (r9 verdict task 5): the stored-index
    # lifecycle entries execute their index WRITE eagerly inside the
    # catalog call and return the lazy serve query — so the call/count
    # boundary is exactly the build/serve boundary. The split is
    # reported per run so host DISK noise (the write path tracks the
    # disk probe) stops masquerading as serve-path regressions; totals
    # are unchanged (build + serve = the number prior rounds reported).
    from lrmr_spark.catalog import INDEX_LIFECYCLE_ENTRIES as SPLIT_BUILD_SERVE

    build_serve: dict[str, dict[str, float]] = {}

    def timed(name: str) -> tuple[float, float]:
        """(first_run_sec, min_of_2_sec). The FIRST run is the
        round-over-round comparable number (r1-r3 were single-shot);
        the min of two runs is the supplementary steady-state signal —
        single-shot samples on this shared host vary ±25% (measured
        10.0-14.6 s for the same build), so the min separates engine
        cost from host noise without breaking cross-round totals."""
        secs, splits = [], []
        for _ in range(2):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            df.count()
            t2 = time.time()
            secs.append(round(t2 - t0, 3))
            splits.append((round(t1 - t0, 3), round(t2 - t1, 3)))
        print(f"bench {name}: {secs}", file=sys.stderr, flush=True)
        if name in SPLIT_BUILD_SERVE:
            first, best = splits[0], splits[secs.index(min(secs))]
            build_serve[name] = {
                "build_sec": first[0],
                "serve_sec": first[1],
                "build_sec_min_run": best[0],
                "serve_sec_min_run": best[1],
            }
        return secs[0], min(secs)

    # host calibration (tools/hostcal.py): the loadavg snapshot is
    # taken before its 20 M-row shuffle and 256 MiB fsync'd write, and
    # a second one after, so the pair brackets the calibration itself
    cal = host_cal(spark)
    load_after_cal = [round(x, 2) for x in os.getloadavg()]
    results, results_min = {}, {}
    for name in HEADLINE:
        results[name], results_min[name] = timed(name)
    extras, extras_min = {}, {}
    for name in EXTRAS:
        extras[name], extras_min[name] = timed(name)

    total = round(sum(results.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": results,
                "extras": extras,
                "value_min_of_2": round(sum(results_min.values()), 3),
                "queries_min_of_2": results_min,
                "extras_min_of_2": extras_min,
                # pre-r7 comparable subtotal (the original 11 queries)
                "value_legacy11": round(
                    sum(results[n] for n in LEGACY11), 3
                ),
                "value_legacy11_min_of_2": round(
                    sum(results_min[n] for n in LEGACY11), 3
                ),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "build_serve_split": build_serve,
                "loadavg_before": cal["loadavg"],
                "loadavg_after_cal": load_after_cal,
                "loadavg_after": [round(x, 2) for x in os.getloadavg()],
                "host_cal": {
                    "shuffle_20m_sec": cal["shuffle_20m_sec"],
                    "disk_write_mb_s": cal["disk_write_mb_s"],
                },
            }
        )
    )


if __name__ == "__main__":
    main()
