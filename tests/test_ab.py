"""tools/ab.py: the verdict rule on synthetic runs, the JVM-side result
fingerprint, and one entry-mode run over two git arms."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from tools.ab import fingerprint, verdict

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
