"""tools/ab.py: the verdict rule on synthetic runs, the bench summary of
canned rep records, the JVM-side result fingerprint, and one entry-mode
run over two git arms."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from tools.ab import fingerprint, summarize, table, verdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PARENT = [1.00, 1.01, 1.02, 1.03, 1.04, 1.05, 1.06, 1.07, 1.08, 1.09]


def test_nine_of_ten_pairs_won_meets_the_claim():
    change = [x - 0.2 for x in PARENT[:9]] + [PARENT[9] + 0.01]
    v = verdict(PARENT, change, "lower", 0.25)
    assert (v["b_wins"], v["verdict"]) == (9, "claim_met")


def test_eight_of_ten_pairs_won_does_not_meet_the_claim():
    change = [x - 0.2 for x in PARENT[:8]] + [x + 0.01 for x in PARENT[8:]]
    v = verdict(PARENT, change, "lower", 0.25)
    assert (v["b_wins"], v["verdict"]) == (8, "parity")


def test_median_gap_within_parent_iqr_does_not_meet_the_claim():
    change = [x - 0.01 for x in PARENT]  # wins every pair by less than the IQR
    v = verdict(PARENT, change, "lower", 0.25)
    assert v["b_wins"] == 10 and v["a_iqr"] > 0.01
    assert v["verdict"] == "parity"


def test_worse_than_bound_is_a_regression():
    assert verdict(PARENT, [x * 1.3 for x in PARENT], "lower", 0.25)["verdict"] == "regression"
    # a higher-is-better metric regresses when it falls
    assert verdict(PARENT, [x * 0.7 for x in PARENT], "higher", 0.25)["verdict"] == "regression"


def test_spread_over_bound_is_unresolved():
    wide = [1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0]
    v = verdict(wide, wide[::-1], "lower", 0.25)
    assert v["spread"] > 0.25
    assert v["verdict"] == "unresolved"


def test_spread_over_bound_with_every_change_run_better_is_resolved():
    wide = [1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0]
    change = [0.2, 0.4, 0.2, 0.4, 0.2, 0.4, 0.2, 0.4, 0.2, 0.4]
    v = verdict(wide, change, "lower", 0.25)
    assert v["spread"] > 0.25
    assert v["verdict"] == "claim_met"


def _bench_rep(arm, seed, f1_s, f4_s, jvm_mb, rss_mb):
    """One perfbench rep as ``_run_rep`` records it."""
    return {
        "arm": arm, "seed": seed, "returncode": 0, "steal_share": 0.0,
        "result": {"correct": True, "attempted": 20, "failed": 0,
                   "metrics": {"retained_mb": {"value": jvm_mb + rss_mb, "unit": "MB"}}},
        "detail": {"latency_by_kind_s": {"F1": f1_s, "F4": f4_s},
                   "retained": {"jvm_heap_mb": jvm_mb, "python_rss_mb": rss_mb}},
    }


def test_bench_summary_attributes_latency_by_kind_and_retained_parts():
    spec = {"end_to_end": [{"name": "retained_mb", "better": "lower", "bound": 0.15}]}
    runs = [
        _bench_rep("a", 1, 0.18, 0.12, 70.0, 146.0), _bench_rep("b", 1, 0.18, 0.09, 71.0, 119.0),
        _bench_rep("b", 2, 0.20, 0.08, 70.0, 120.0), _bench_rep("a", 2, 0.19, 0.14, 71.0, 145.0),
        _bench_rep("a", 3, 0.17, 0.13, 72.0, 144.0), _bench_rep("b", 3, 0.19, 0.10, 70.0, 118.0),
        # a crashed rep carries no detail and counts for neither arm
        {"arm": "b", "seed": 4, "returncode": 1, "steal_share": 0.0, "stderr_tail": "boom"},
    ]
    out, good = summarize(spec, "turnaround", [1, 2, 3], runs)
    assert good and out["paired_seeds"] == [1, 2, 3]
    assert out["metrics"]["retained_mb"]["verdict"] == "claim_met"
    assert out["attribution"] == {
        "a": {"latency_by_kind_s": {"F1": 0.18, "F4": 0.13},
              "retained": {"jvm_heap_mb": 71.0, "python_rss_mb": 145.0}},
        "b": {"latency_by_kind_s": {"F1": 0.19, "F4": 0.09},
              "retained": {"jvm_heap_mb": 70.0, "python_rss_mb": 119.0}},
    }
    md = table({"mode": "bench", **out})
    assert "| latency_by_kind_s.F4 | 0.13 | 0.09 | -0.04 |" in md
    assert "| retained.python_rss_mb | 145 | 119 | -26 |" in md
    json.dumps(out)  # the record stays JSON


def test_fingerprint_ignores_partitioning_and_sees_one_value(spark):
    rows = [(i, f"s{i % 7}", i * 0.5, None if i % 5 else "x") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, s string, d double, n string")
    fp = fingerprint(df.repartition(1))
    assert fp == fingerprint(df.repartition(7))
    assert fp[0] == 200
    changed = df.withColumn("d", F.when(F.col("id") == 17, F.lit(9.0)).otherwise(F.col("d")))
    assert fingerprint(changed.repartition(7)) != fp


def _worktrees() -> str | None:
    try:
        return subprocess.run(["git", "worktree", "list", "--porcelain"], cwd=ROOT,
                              capture_output=True, text=True, check=True).stdout
    except (OSError, subprocess.CalledProcessError):
        return None


def test_entry_mode_smoke(tmp_path, sf_dir):
    before = _worktrees()
    if before is None:
        pytest.skip("not a git checkout: the harness needs git arms")
    out = tmp_path / "ab.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "ab.py"), "entry", "--a", "HEAD",
         "--b", "WORKTREE", "--sf", sf_dir,
         "--entries", "flagship_event_counts", "--reps", "1", "--out", str(out)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert _worktrees() == before
    assert proc.returncode == 0, proc.stderr[-3000:]
    rec = json.loads(out.read_text())
    assert rec["mode"] == "entry" and rec["ok"]
    assert [rec["arms"][k]["ref"] for k in "ab"] == ["HEAD", "WORKTREE"]
    s = rec["summary"]["flagship_event_counts"]
    assert len(s["fingerprints"]) == 1  # equal across arms
    for arm in "ab":
        assert s[arm]["first_s"] > 0 and s[arm]["warm_s"] > 0 and s[arm]["jobs"]
    runs = rec["runs"]
    assert sorted(r["arm"] for r in runs) == ["a", "b"]
    for r in runs:
        assert set(r["result"]["host_cal"]) == {"loadavg", "shuffle_20m_sec", "disk_write_mb_s"}
        assert 0 <= r["steal_share"] <= 1
    # each arm imported its own engine
    assert runs[0]["result"]["lrmr_spark"] != runs[1]["result"]["lrmr_spark"]
