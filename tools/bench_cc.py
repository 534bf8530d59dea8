"""Connected-components scale rehearsal (r9 verdict task 7): the
static-edge-frame regime was applied to HashMin in r8 (commit
e2afc8a via operators/_iterloop.py) but the only sf10 evidence was
LPA/pagerank/kcore — and CC is the dedup pipeline's backbone at
100 TB ("which cluster does this near-dup pair graph put each doc
in" runs after every LSH pass). This times BOTH shipped algorithms
of operators.dedup.connected_components on the dense bipartite
order↔part pair graph (16.7M nodes / ~120M directed edges at sf10 —
the above-gate regime; the catalog's dedup_components entry runs the
same operator on the sparse MinHash pair graph, which stays below
the gate even at sf10 and so never exercises the copartitioned
cache):

  hashmin  O(diameter) rounds of min-label propagation with
           early-exit on a changed-count of 0 (shipped default)
  star     alternating large-star/small-star (Kiveris et al.
           SoCC'14), O(log n) rounds — the adversarial-diameter
           variant

Both must produce IDENTICAL labels (verified via an
order-independent JVM-side fingerprint before timing — two unrelated
algorithms agreeing on every label at 16.7M nodes is itself a
correctness artifact).

Usage: python tools/bench_cc.py OUT.json SF_DIR [SF_DIR...]
Protocol: per dir, 1 fingerprint verify pass per algorithm (also
warms), then 2 interleaved timed rounds, min recorded; ratio =
last_dir/first_dir per algorithm.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lrmr_spark.operators.dedup import connected_components
from lrmr_spark.session import get_spark
from lrmr_spark.tables import load
from tools.ab import fingerprint

REPS = 2


def _pairs(spark, sf_dir):
    """Directed half of the bipartite order↔part graph as a near-dup
    pair list (the exp_shj shape)."""
    li = load(spark, sf_dir, "lineitem")
    o = F.col("l_orderkey").cast("long") * 2
    p = F.col("l_partkey").cast("long") * 2 + 1
    return li.select(o.alias("id_a"), p.alias("id_b")).distinct()


ALGOS = {
    "hashmin": lambda s, d: connected_components(_pairs(s, d)),
    "star": lambda s, d: connected_components(_pairs(s, d), algorithm="star"),
}


def main() -> None:
    out_path = sys.argv[1]
    dirs = sys.argv[2:] or ["/root/repo/.scratch/sf1", "/root/repo/.scratch/sf10"]
    spark = get_spark("bench-cc")
    import hostcal

    cal = hostcal.host_cal(spark)
    spark.range(1000).selectExpr("sum(id)").collect()
    results: dict[str, dict] = {}
    for sf_dir in dirs:
        tag = os.path.basename(os.path.normpath(sf_dir))
        golden = None
        for name, fn in ALGOS.items():
            fp = fingerprint(fn(spark, sf_dir))
            print(f"{name} @ {tag}: fp={fp}", file=sys.stderr, flush=True)
            if golden is None:
                golden = fp
            elif fp != golden:
                raise AssertionError(f"{name} diverges at {tag}")
        for rep in range(REPS):
            for name, fn in ALGOS.items():
                t0 = time.time()
                n = fn(spark, sf_dir).count()
                sec = round(time.time() - t0, 3)
                rec = results.setdefault(name, {}).setdefault(
                    tag, {"runs": [], "n_rows": n}
                )
                rec["runs"].append(sec)
                rec["min_sec"] = min(rec["runs"])
                print(f"{name} @ {tag} rep{rep}: {sec}", file=sys.stderr,
                      flush=True)
    tags = [os.path.basename(os.path.normpath(d)) for d in dirs]
    for name, per in results.items():
        if tags[0] in per and tags[-1] in per and per[tags[0]]["min_sec"]:
            per["ratio"] = round(
                per[tags[-1]]["min_sec"] / per[tags[0]]["min_sec"], 2
            )
    payload = {
        "experiment": "connected-components scale rehearsal: hashmin vs large/small-star, bipartite graph (r9)",
        "protocol": (
            "per dir: 1 fingerprint verify pass per algorithm (equality "
            f"asserted, also warms), then {REPS} interleaved timed rounds "
            "timing a count() action; min recorded; ratio = last/first dir"
        ),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "host_cal": cal,
        "algorithms": results,
    }
    with open(out_path, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
