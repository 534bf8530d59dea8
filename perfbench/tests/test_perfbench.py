"""Tests of the benchmark itself, on smoke-sized inputs.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import run  # noqa: E402
import shape  # noqa: E402


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=200,
    )


def _git_status() -> str | None:
    """The tree's status with ignored files, or None outside a git checkout."""
    try:
        out = subprocess.run(
            ["git", "status", "--porcelain", "--ignored"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        )
    except (OSError, subprocess.CalledProcessError):
        return None
    return out.stdout


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_generator_depends_only_on_seed(tmp_path):
    size = gen.SIZES["smoke"]
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.generate_tables(seed, size, str(tmp_path / d))
        gen.generate_stream(seed, size, str(tmp_path / d / "stream"))

    def read(d: str, name: str) -> bytes:
        with open(tmp_path / d / name, "rb") as f:
            return f.read()

    for name in ("events.parquet", "lineitem.parquet", "documents.parquet",
                 "stream/events-000.parquet"):
        assert read("a", name) == read("b", name)
        assert read("a", name) != read("c", name)


def test_generated_data_keeps_the_test_data_shape(tmp_path):
    gen.generate_tables(11, gen.SIZES["full"], str(tmp_path))
    got = shape.measure(str(tmp_path))
    assert set(got) == set(gen.TESTDATA_SHAPE)
    for name, want in gen.TESTDATA_SHAPE.items():
        # the document figures rest on about 50 near-copies per 1k
        # documents, so one seed's sampling error is about 14%
        tol = 0.3 if name.startswith(("near_dup", "line_segment")) else 0.05
        assert abs(got[name] / want - 1) < tol, (name, got[name], want)


@pytest.mark.parametrize(
    "workload,trace",
    [("turnaround", "0"), ("turnaround", "1"), ("heavy", "0"), ("heavy", "1"),
     ("heavy_batch", "0"), ("stream_drain", "1")],
)
def test_smoke_run_is_correct_and_leaves_tree_unchanged(workload, trace):
    before = _git_status()
    p = _bench("--workload", workload, "--seed", "3", "--size", "smoke", "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    detail = json.loads(p.stdout.splitlines()[-2])["detail"]
    result = json.loads(p.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], detail["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.PER_LAYER if trace == "1" else run.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values()) or trace == "1"
    assert detail["seed"] == 3 and detail["error_rate"] == 0
    if before is None:
        pytest.skip("not a git checkout: the tree-unchanged check did not run")
    assert _git_status() == before


@pytest.mark.parametrize(
    "workload,nonzero",
    [("turnaround", ("job.spark_jobs",)), ("heavy", ("catalog.spark_jobs", "streaming.batches"))],
)
def test_traced_counts_repeat(workload, nonzero):
    def counts() -> dict:
        p = _bench("--workload", workload, "--seed", "4", "--size", "smoke", "--trace", "1")
        assert p.returncode == 0, p.stderr[-3000:]
        m = json.loads(p.stdout.splitlines()[-1])["metrics"]
        return {
            k: v["value"] for k, v in m.items()
            if k.endswith((".spark_jobs", ".stages", ".tasks")) or k == "streaming.batches"
        }

    first = counts()
    assert all(first[k] > 0 for k in nonzero)
    assert counts() == first


def test_fails_without_engine_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("--workload", "turnaround", "--seed", "1", "--seconds", "10", "--trace", "0",
               cwd=str(tmp_path))
    assert p.returncode != 0
    assert "correct" not in p.stdout
