"""Interleaved A/B of two git refs: the benchmark, or named catalog entries.

    python tools/ab.py bench --a HEAD --b WORKTREE --workload turnaround --seeds 101-110
    python tools/ab.py entry --a 1bf6b10 --b WORKTREE --sf SF_DIR \\
        --entries text_line_dedup_index,ann_cosine_topk --reps 5 --out AB.json

An arm is a git ref, checked out once with ``git worktree add --detach`` into
a temporary directory that is removed and pruned on exit, or ``WORKTREE``:
this checkout, uncommitted edits included. A variant is a commit, so no arm
runs code the harness carries. Every rep is a fresh subprocess, and the arm
that runs first alternates from pair to pair. Around each rep the harness
reads host CPU steal and the fixed CPU calibrator of ``perfbench/host.py``.

``bench`` runs each arm's own ``perfbench/run.py --workload W --seed S`` and
judges every end-to-end metric of this checkout's BENCHMARK.json against its
bound (see ``verdict``); arm ``a`` is the parent, ``b`` the change. A second
table attributes what was measured: per arm, the median latency of each op
kind and the two parts of ``retained_mb`` (see ``attribute``). It exits 1
when a run fails, a metric regresses or is unresolved, or ``b`` fails more
operations than ``a``.

``entry`` runs the entries in a fresh engine per rep, after the
``tools/hostcal.py`` calibration: first-run and warm seconds (the catalog
call plus ``count()``, split into build and serve), the Spark jobs of the
warm run and a JVM-side fingerprint of its result. It exits 1 when a
fingerprint differs across arms or reps.

The last line of standard output is the JSON record, which ``--out`` also
writes; a markdown table of the summary precedes it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

TREE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKTREE = "WORKTREE"

sys.path.append(os.path.join(TREE, "perfbench"))
import host  # noqa: E402
import run as perfbench_run  # noqa: E402


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=TREE, check=True, capture_output=True, text=True
    ).stdout.strip()


@contextlib.contextmanager
def checkouts(refs: list[str]):
    """Yield {ref: {"root", "commit", "dirty"}}, one checkout per distinct ref."""
    tmp = tempfile.mkdtemp(prefix="ab-arms-")
    added: list[str] = []
    try:
        arms = {}
        for ref in dict.fromkeys(refs):
            if ref == WORKTREE:
                arms[ref] = {"root": _git("rev-parse", "--show-toplevel"),
                             "commit": _git("rev-parse", "HEAD"),
                             "dirty": bool(_git("status", "--porcelain"))}
                continue
            commit = _git("rev-parse", "--verify", f"{ref}^{{commit}}")
            root = os.path.join(tmp, f"arm{len(added)}")
            _git("worktree", "add", "--detach", root, commit)
            added.append(root)
            arms[ref] = {"root": root, "commit": commit, "dirty": False}
        yield arms
    finally:
        for root in added:
            subprocess.run(["git", "worktree", "remove", "--force", root], cwd=TREE,
                           capture_output=True)
        subprocess.run(["git", "worktree", "prune"], cwd=TREE, capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)


def _run_rep(cmd: list[str], root: str, env: dict[str, str], timeout: float) -> dict:
    """One fresh subprocess in ``root`` with the host readings around it;
    its last line of standard output is its JSON result, and perfbench's
    line before it holds the run's details."""
    calibrate_s = host.calibrate()
    ticks = host.cpu_ticks()
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=root, env={**os.environ, **env}, capture_output=True,
                         text=True, timeout=timeout)
    wall_s = time.perf_counter() - t0
    rep = {"calibrate_s": calibrate_s, "steal_share": host.steal_share(ticks, host.cpu_ticks()),
           "wall_s": wall_s, "returncode": out.returncode}
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        rep["stderr_tail"] = out.stderr[-2000:]
        return rep
    rep["result"] = json.loads(lines[-1])
    if len(lines) > 1 and lines[-2].startswith('{"detail"'):
        rep["detail"] = json.loads(lines[-2])["detail"]
    return rep


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(a: list[float], b: list[float], better: str, bound: float) -> dict:
    """Judge one metric from paired runs (``a[i]`` and ``b[i]`` share a seed).

    - ``regression``: the change's median is worse than the parent's by more
      than ``bound`` (a fraction of the parent's median);
    - ``unresolved``: an arm's spread (its quartile distance over its median)
      exceeds ``bound``, unless every change run beats every parent run;
    - ``claim_met``: the change wins at least 9/10 of the pairs (ties count
      for neither) and its median beats the parent's by more than the
      parent's quartile distance;
    - ``parity`` otherwise."""
    sign = 1 if better == "lower" else -1  # sign * (x - y) < 0: x is better
    qa, qb = _quartiles(a), _quartiles(b)
    iqr_a = qa[2] - qa[0]
    wins = sum(sign * (y - x) < 0 for x, y in zip(a, b))
    spread = max((q[2] - q[0]) / abs(q[1]) if q[1] else 0.0 for q in (qa, qb))
    worse_by = sign * (qb[1] - qa[1]) / abs(qa[1]) if qa[1] else 0.0
    all_better = max(sign * y for y in b) < min(sign * x for x in a)
    if worse_by > bound:
        v = "regression"
    elif spread > bound and not all_better:
        v = "unresolved"
    elif wins >= 0.9 * len(a) and sign * (qa[1] - qb[1]) > iqr_a:
        v = "claim_met"
    else:
        v = "parity"
    return {
        "a": {"median": qa[1], "q1": qa[0], "q3": qa[2], "runs": a},
        "b": {"median": qb[1], "q1": qb[0], "q3": qb[2], "runs": b},
        "pairs": len(a), "b_wins": wins, "a_iqr": iqr_a, "spread": spread,
        "b_worse_by": worse_by, "bound": bound, "verdict": v,
    }


def _pairs(n: int, arms: list[str]):
    """(index, arm) in run order: the first arm alternates every pair."""
    for i in range(n):
        for arm in arms if i % 2 == 0 else arms[::-1]:
            yield i, arm


def bench(args, arms: dict) -> tuple[dict, bool]:
    with open(os.path.join(TREE, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = []
    for i, arm in _pairs(len(args.seeds), ["a", "b"]):
        root = arms[getattr(args, arm)]["root"]
        cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
               "--seed", str(args.seeds[i]), "--seconds", str(spec["run_seconds"])]
        rep = _run_rep(cmd, root, {"PYTHONPATH": root}, timeout=600)
        runs.append({"arm": arm, "seed": args.seeds[i], **rep})
        _progress(runs[-1])
    return summarize(spec, args.workload, args.seeds, runs)


def attribute(details: list[dict]) -> dict:
    """Where one arm's time and memory went: the median over its runs of
    each op kind's latency (perfbench's ``latency_by_kind_s``) and of each
    part of ``retained_mb`` (``retained``: JVM heap, Python driver RSS)."""
    out = {}
    for key in ("latency_by_kind_s", "retained"):
        parts: dict[str, list[float]] = {}
        for d in details:
            for k, v in d.get(key, {}).items():
                parts.setdefault(k, []).append(v)
        out[key] = {k: statistics.median(v) for k, v in parts.items()}
    return out


def summarize(spec: dict, workload: str, all_seeds: list[int], runs: list[dict]) -> tuple[dict, bool]:
    """The bench record of ``runs`` (one per arm and seed) against the
    end-to-end metrics of ``spec`` (a BENCHMARK.json), and whether it passes."""
    ok = [r for r in runs if "result" in r]
    seeds = [s for s in all_seeds if sum(r["seed"] == s for r in ok) == 2]
    by = {(r["arm"], r["seed"]): r["result"] for r in ok}
    metrics = {}
    for m in spec["end_to_end"]:
        vals = {arm: [by[arm, s]["metrics"][m["name"]]["value"] for s in seeds] for arm in "ab"}
        if seeds:
            metrics[m["name"]] = verdict(vals["a"], vals["b"], m["better"], m["bound"])
    failed = {arm: {k: sum(r["result"][k] for r in ok if r["arm"] == arm)
                    for k in ("failed", "attempted")} for arm in "ab"}
    failed["crashed_runs"] = {arm: sum(r["arm"] == arm for r in runs if "result" not in r)
                              for arm in "ab"}
    attribution = {arm: attribute([r.get("detail", {}) for r in ok if r["arm"] == arm])
                   for arm in "ab"}
    out = {"workload": workload, "seeds": all_seeds, "paired_seeds": seeds,
           "metrics": metrics, "attribution": attribution, "ops": failed, "runs": runs}
    good = (len(seeds) == len(all_seeds) and failed["b"]["failed"] <= failed["a"]["failed"]
            and all(m["verdict"] in ("parity", "claim_met") for m in metrics.values()))
    return out, good


def fingerprint(df) -> list:
    """``[count(*), bit_xor(xxhash64(<all columns>))]``, computed in the JVM:
    independent of row order and partitioning."""
    from pyspark.sql import functions as F

    cols = [f"c{i}" for i in range(len(df.columns))]  # names may repeat
    row = df.toDF(*cols).agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*cols))).first()
    return [row[0], row[1]]


def entry_rep(args) -> None:
    """One rep in this process: the arm's engine on the arm's code."""
    root = os.path.realpath(args.root)
    sys.path.insert(1, root)
    import lrmr_spark

    if not os.path.realpath(lrmr_spark.__file__).startswith(root + os.sep):
        raise SystemExit(f"ab: lrmr_spark imported from {lrmr_spark.__file__}, not {root}")
    from hostcal import host_cal
    from lrmr_spark.catalog import queries
    from lrmr_spark.session import get_spark

    spark = get_spark("ab-entry")
    sc = spark.sparkContext
    out = {"lrmr_spark": lrmr_spark.__file__, "host_cal": host_cal(spark), "entries": {}}
    for name in args.entries:
        fn = queries()[name]
        rec: dict = {}
        for run in ("first", "warm"):
            sc.setJobGroup(f"ab-{run}-{name}", name)
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            t1 = time.perf_counter()
            df.count()
            t2 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec.update({f"{run}_s": t2 - t0, f"{run}_build_s": t1 - t0, f"{run}_serve_s": t2 - t1})
        rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(f"ab-warm-{name}"))
        rec["fingerprint"] = fingerprint(df)
        out["entries"][name] = rec
    spark.stop()
    print(json.dumps(out))


def entry(args, arms: dict) -> tuple[dict, bool]:
    runs = []
    for i, arm in _pairs(args.reps, ["a", "b"]):
        root = arms[getattr(args, arm)]["root"]
        with tempfile.TemporaryDirectory(prefix="ab-rep-") as tmp:
            env = {"PYTHONPATH": root, "TMPDIR": tmp, "SPARK_LOCAL_DIRS": f"{tmp}/local",
                   "SPARK_GRAFT_WAREHOUSE": f"{tmp}/warehouse", "LRMR_SPARK_JOB_DIR": f"{tmp}/jobs",
                   # perfbench's engine settings, unless the caller sets them
                   "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", perfbench_run.CPUS),
                   "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                                                            perfbench_run.DRIVER_MEM)}
            cmd = [sys.executable, os.path.abspath(__file__), "rep", "--root", root,
                   "--sf", args.sf, "--entries", ",".join(args.entries)]
            rep = _run_rep(cmd, root, env, timeout=3600)
        runs.append({"arm": arm, "rep": i, **rep})
        _progress(runs[-1])
    ok = [r for r in runs if "result" in r]
    summary, good = {}, len(ok) == len(runs)
    for name in args.entries:
        recs = {arm: [r["result"]["entries"][name] for r in ok if r["arm"] == arm] for arm in "ab"}
        fps = {json.dumps(rec["fingerprint"]) for arm in "ab" for rec in recs[arm]}
        good &= len(fps) == 1
        summary[name] = {"fingerprints": sorted(fps)}
        for arm in "ab":
            rs = recs[arm]
            summary[name][arm] = {
                k: statistics.median(x[k] for x in rs) if rs else None
                for k in ("first_s", "first_build_s", "first_serve_s",
                          "warm_s", "warm_build_s", "warm_serve_s")
            }
            summary[name][arm]["jobs"] = sorted({x["jobs"] for x in rs})
            summary[name][arm]["steal_share"] = statistics.median(
                r["steal_share"] for r in ok if r["arm"] == arm) if rs else None
    return {"sf": args.sf, "entries": args.entries, "reps": args.reps, "summary": summary,
            "runs": runs}, good


def _progress(run: dict) -> None:
    res = run.get("result", {})
    brief = ({k: round(v["value"], 4) for k, v in res.get("metrics", {}).items()}
             or {k: round(v["warm_s"], 3) for k, v in res.get("entries", {}).items()})
    print(f"ab: {run['arm']} {run.get('seed', run.get('rep'))} rc={run['returncode']} "
          f"steal={run['steal_share']:.3f} {json.dumps(brief)}", file=sys.stderr, flush=True)


def table(out: dict) -> str:
    """The summary as a markdown table."""
    if out["mode"] == "bench":
        rows = [f"workload `{out['workload']}`, {len(out['paired_seeds'])} pairs\n",
                "| metric | a median [q1, q3] | b median [q1, q3] | b wins | a IQR | verdict |",
                "| --- | --- | --- | --- | --- | --- |"]
        for name, m in out["metrics"].items():
            a, b = m["a"], m["b"]
            rows.append(f"| {name} | {a['median']:.4g} [{a['q1']:.4g}, {a['q3']:.4g}] | "
                        f"{b['median']:.4g} [{b['q1']:.4g}, {b['q3']:.4g}] | "
                        f"{m['b_wins']}/{m['pairs']} | {m['a_iqr']:.3g} | {m['verdict']} |")
        ops = out["ops"]
        rows.append(f"\nfailed ops: a {ops['a']['failed']}/{ops['a']['attempted']}, "
                    f"b {ops['b']['failed']}/{ops['b']['attempted']}")
        rows += ["\n| part | a median | b median | b - a |", "| --- | --- | --- | --- |"]
        att = out["attribution"]
        for key in ("latency_by_kind_s", "retained"):
            for part, a in att["a"][key].items():
                b = att["b"][key].get(part)
                if b is not None:
                    rows.append(f"| {key}.{part} | {a:.4g} | {b:.4g} | {b - a:+.3g} |")
        return "\n".join(rows)
    rows = ["| entry | arm | first_s | warm_s (build + serve) | jobs | steal |",
            "| --- | --- | --- | --- | --- | --- |"]
    for name, s in out["summary"].items():
        for arm in "ab":
            x = s[arm]
            if x["first_s"] is None:
                continue
            rows.append(f"| {name} | {arm} | {x['first_s']:.3f} | {x['warm_s']:.3f} "
                        f"({x['warm_build_s']:.3f} + {x['warm_serve_s']:.3f}) | "
                        f"{x['jobs']} | {x['steal_share']:.3f} |")
    return "\n".join(rows)


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return list(dict.fromkeys(out))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    for mode in ("bench", "entry"):
        p = sub.add_parser(mode)
        p.add_argument("--a", required=True, help="parent arm: a git ref or WORKTREE")
        p.add_argument("--b", required=True, help="change arm: a git ref or WORKTREE")
        p.add_argument("--out", help="also write the JSON record here")
    sub.choices["bench"].add_argument("--workload", required=True)
    sub.choices["bench"].add_argument("--seeds", type=_seeds, required=True,
                                      help="one seed per pair, e.g. 101-110 or 3,5,8")
    sub.choices["entry"].add_argument("--sf", required=True, help="SF directory of the tables")
    sub.choices["entry"].add_argument("--reps", type=int, default=5, help="reps per arm")
    rep = sub.add_parser("rep", help="internal: one entry rep in this process")
    rep.add_argument("--root", required=True)
    rep.add_argument("--sf", required=True)
    for p in (sub.choices["entry"], rep):
        p.add_argument("--entries", type=lambda s: s.split(","), required=True)
    args = ap.parse_args(argv)
    if args.mode == "rep":
        entry_rep(args)
        return 0
    if args.mode == "entry" and args.reps < 1:
        ap.error("--reps must be at least 1")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # so the checkouts are removed
    with checkouts([args.a, args.b]) as arms:
        body, good = (bench if args.mode == "bench" else entry)(args, arms)
    out = {"mode": args.mode, "ok": good, "host_nproc": os.cpu_count(),
           "arms": {k: {"ref": getattr(args, k), "commit": arms[getattr(args, k)]["commit"],
                        "dirty": arms[getattr(args, k)]["dirty"]} for k in "ab"}, **body}
    print(table(out))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1)
    print(json.dumps(out))
    return 0 if good else 1


if __name__ == "__main__":
    sys.exit(main())
