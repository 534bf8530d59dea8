"""Plan-shape audit over the whole catalog: for every query, compile
the physical plan (no execution beyond what query construction itself
does) and record scan count, shuffle-exchange count, and the heavy-node
markers. Flags the pathologies the measured pitfalls catalogue:

- scan_blowup: > MAX_SCANS parquet scans of the same table family —
  the 2^steps chained-dependency replanning (ARCHITECTURE pitfall 15).
- exchange_heavy: > MAX_EXCH shuffle exchanges — a multi-stage plan
  that likely re-shuffles what one partitioning could serve.
- global_sort: a Sort above an Exchange rangepartitioning with no
  Limit — full-data sorts don't survive 100 TB (TakeOrderedAndProject
  and per-partition sortWithinPartitions are fine).
- rdd_scan: a Scan ExistingRDD over a Python RDD
  (``applySchemaToPythonRDD``) — an in-memory table that pays a Spark
  job and a Python worker pass per action instead of landing as an
  Arrow local relation (sources.parallelize). Checkpointed frames also
  plan as Scan ExistingRDD but are JVM RDDs and do not trip it.
- batch_eval_python: a BatchEvalPython node — a row-at-a-time Python
  UDF, which the engine does not use (pipeline.py keeps every Python
  operator on Arrow batches).
- cartesian: a condition-free join in the optimized logical plan where
  neither child is known to hold at most one row (``maxRows`` ≤ 1) — a
  cross product that grows with both inputs. A join to a 1-row side (a
  global count or bound broadcast to every row) grows only with the
  other side and does not trip it.

Every entry also records ``python_nodes``, the count of plan nodes
whose tasks run a Python worker (PYTHON_NODES).

Usage: python tools/audit_plans.py [SF_DIR] [OUT.json]
Defaults: /root/testdata/sf0.001 (plan shape is SF-independent; the
smallest dir keeps the few entries that write an index at
construction time cheap), PLAN_AUDIT.json.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lrmr_spark.catalog import queries
from lrmr_spark.plans import physical_plan
from lrmr_spark.session import get_spark

MAX_SCANS = 8
MAX_EXCH = 10

# entries whose plan legitimately trips a blunt threshold, with the
# reason recorded here so the audit output stays actionable
WAIVERS = {
    # 22 TPC-H tables' worth of joins in one statement
    "tpch_q2_min_cost_supplier": "8-table join + correlated min-cost subquery",
    "tpch_q21_waiting_suppliers": "4-way join + exists/not-exists anti twins",
    # CC label propagation: one exchange per HashMin/star round
    "dedup_components": "O(diameter) label-propagation rounds",
    "dedup_components_star": "O(log n) large/small-star rounds",
    "graph_pagerank_parts": "fixed-iteration propagation",
    "embedding_kmeans_iter": "fixed-iteration centroid updates",
    "dedup_pipeline_containment": "composed 4-stage pipeline counts",
    "corpus_curation_pipeline": "composed multi-stage pipeline",
    # banded-vs-brute self-check: the brute all-pairs side exists to
    # CONTRADICT the banded side, and the full-outer equality join
    # stacks both pipelines' exchanges in one plan — a diagnostic
    # harness run at validation SFs only, never a production path
    # (the entry's docstring carries the O(reps²) warning)
    "dedup_simhash_fast_banding_lossless": "diagnostic banded-vs-brute equality harness",
    # Pipeline.partitioned_by_fn: an opaque Python routing function can
    # only run on the RDD layer
    "feeder_route_do_pipeline": "partitioned_by_fn parity escape hatch: Python router over an RDD",
    # cross products by design, each with one side bounded by the query
    "events_gapfill_daily": "gap-fill grid: distinct event types x calendar days",
    "ann_cosine_topk_batch": "batched scoring: corpus x a 4-query literal broadcast",
}


# physical nodes whose tasks hand rows to a Python worker
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
)


def node_count(plan: str, *names: str) -> int:
    """Detail-section headers of the named nodes in a formatted plan
    (each node prints twice: tree line + "(n) Name" detail)."""
    alt = "|".join(names)
    return len(re.findall(rf"^\(\d+\) (?:{alt})\b", plan, re.MULTILINE))


def python_rdd_scans(plan: str) -> int:
    """Scan ExistingRDD nodes whose RDD came from a Python RDD, counted
    from the formatted plan's per-node Arguments lines."""
    return len(re.findall(r"^Arguments: .* at applySchemaToPythonRDD ", plan, re.MULTILINE))


def _at_most_one_row(plan) -> bool:
    rows = plan.maxRows()
    return bool(rows.isDefined()) and rows.get() <= 1


def cartesian_joins(df) -> int:
    """Condition-free joins in ``df``'s optimized logical plan where
    neither child holds at most one row."""
    n, stack = 0, [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Join" and node.condition().isEmpty():
            n += not (_at_most_one_row(node.left()) or _at_most_one_row(node.right()))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return n


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "PLAN_AUDIT.json"
    spark = get_spark("lrmr-plan-audit")
    rows, flagged = {}, []
    for name, fn in queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = physical_plan(df)
            n_cart = cartesian_joins(df)
        except Exception as e:  # streaming entries can't explain offline
            rows[name] = {"error": str(e).splitlines()[0][:120]}
            continue
        n_scan = node_count(plan, "Scan parquet")
        n_exch = node_count(plan, "Exchange")
        top_k = "TakeOrderedAndProject" in plan
        global_sort = bool(
            re.search(r"Sort ", plan)
            and re.search(r"Exchange rangepartitioning", plan)
            and "GlobalLimit" not in plan
            and not top_k
        )
        n_rdd = python_rdd_scans(plan)
        n_py = node_count(plan, *PYTHON_NODES)
        n_batch_eval = node_count(plan, "BatchEvalPython")
        info = {
            "scans": n_scan,
            "exchanges": n_exch,
            "python_rdd_scans": n_rdd,
            "python_nodes": n_py,
        }
        issues = []
        if n_scan > MAX_SCANS:
            issues.append(f"scan_blowup:{n_scan}")
        if n_exch > MAX_EXCH:
            issues.append(f"exchange_heavy:{n_exch}")
        if global_sort:
            issues.append("global_sort")
        if n_rdd:
            issues.append(f"rdd_scan:{n_rdd}")
        if n_batch_eval:
            issues.append(f"batch_eval_python:{n_batch_eval}")
        if n_cart:
            issues.append(f"cartesian:{n_cart}")
        if issues and name in WAIVERS:
            info["waived"] = WAIVERS[name]
        elif issues:
            info["issues"] = issues
            flagged.append(name)
        rows[name] = info
        print(f"{name}: scans={n_scan} exch={n_exch} py={n_py} {issues or ''}", flush=True)
    out = {
        "sf_dir": sf_dir,
        "thresholds": {"max_scans": MAX_SCANS, "max_exchanges": MAX_EXCH},
        "flagged": flagged,
        "queries": rows,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"flagged": flagged, "n": len(rows)}), flush=True)


if __name__ == "__main__":
    main()
