"""Benchmark of lrmr_spark: job turnaround, and heavy batch with stream drains.

    python3 perfbench/run.py --workload turnaround --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Each run makes its own inputs from the
seed, starts the engine, runs every operation kind to warm up, then runs the
workload's fixed operation sequence and checks every output. The last line
of standard output is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
holds details that are not gated: host diagnostics, error rate and, when
traced, the spans. ``--seconds`` is accepted for the command interface only:
each workload's sequence is fixed. See perfbench/README.md for the metrics
and workloads.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the whole run, including set-up and teardown

# Pinned run settings: fewer engine cores than the host has, so steal and
# neighbours disturb less, and a heap that fits a small host.
CPUS = "2"
DRIVER_MEM = "2g"

END_TO_END = {
    "latency_p50_s": "s",
    "ops_per_s": "1/s",
    "cpu_s_per_op": "s",
    "retained_mb": "MB",
    "setup_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "tables.load_s": "s",
    "pipeline.build_s": "s",
    "job.run_s": "s",
    "job.driver_gap_s": "s",
    "job.spark_jobs": "count",
    "job.stages": "count",
    "job.tasks": "count",
    "job.exec_cpu_s": "s",
    "job.result_rows": "count",
    "catalog.build_s": "s",
    "catalog.serve_s": "s",
    "catalog.driver_gap_s": "s",
    "catalog.spark_jobs": "count",
    "catalog.stages": "count",
    "catalog.tasks": "count",
    "catalog.exec_run_s": "s",
    "catalog.exec_cpu_s": "s",
    "catalog.shuffle_write_mb": "MB",
    "catalog.shuffle_read_mb": "MB",
    "catalog.spill_mb": "MB",
    "catalog.input_mb": "MB",
    "catalog.failed_tasks": "count",
    **{
        f"operators.{e}.{m}": u
        for e in (
            "join_multiway_region_revenue",
            "events_sessionization",
            "dedup_minhash_lsh_fast",
            "graph_label_propagation",
            "text_line_dedup_index",
        )
        for m, u in (("s", "s"), ("spark_jobs", "count"), ("exec_cpu_s", "s"))
    },
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.batch_ms_p50": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_mb": "MB",
    "streaming.sink_rows": "count",
    "streaming.spark_jobs": "count",
    "streaming.exec_cpu_s": "s",
    "trace.untraced_s": "s",
    "trace.traced_s": "s",
    "trace.overhead_pct": "%",
}

# the workloads BENCHMARK.json lists; "heavy" is "heavy_batch" and
# "stream_drain" in one run, and those two can also be run on their own
WORKLOAD_NAMES = ("turnaround", "heavy")
PART_NAMES = ("heavy_batch", "stream_drain")


def _isolate(run_dir: str) -> dict[str, str]:
    """Point every path the engine writes to at this run's directory."""
    paths = {
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "LRMR_SPARK_JOB_DIR": os.path.join(run_dir, "jobs"),
    }
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    os.environ.update(paths)
    # spark-submit's launcher JVM reads only this variable
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={paths['TMPDIR']}"
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return paths


def _prepare(workload: str, seed: int, size: str, data_dir: str, entries: str) -> dict:
    out = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "prepare.py"),
            "--workload", workload, "--seed", str(seed), "--size", size,
            "--out", data_dir, "--entries", entries,
        ],
        check=True, capture_output=True, text=True, timeout=120,
    )
    return json.loads(out.stdout)


def _kill_tree() -> None:
    import host

    for pid in host.descendants(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _watchdog(run_dir: str) -> None:
    print(f"perfbench: run exceeded {DEADLINE_S} s, stopping", file=sys.stderr, flush=True)
    _kill_tree()
    shutil.rmtree(run_dir, ignore_errors=True)
    os._exit(3)


def _stop_engine(spark) -> None:
    """Stop the session and the JVM it runs in, and wait until every process
    they started has ended."""
    import host
    from pyspark import SparkContext

    started = set(host.descendants(os.getpid())[1:])
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    started.update(host.descendants(os.getpid())[1:])
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # workers the JVM leaves behind are re-parented, so wait on their pids
    deadline = time.time() + 10
    while host.alive(started) and time.time() < deadline:
        time.sleep(0.1)
    for pid in host.alive(started):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while host.alive(started):
        time.sleep(0.05)


def _retained_mb(spark) -> tuple[float, float]:
    """(JVM heap in use after a forced full GC, Python driver RSS) in MB."""
    import host

    # Python first: dropping its references lets the JVM collect what they
    # held; Spark's cleaner then frees blocks of collected RDDs, shortly
    # after the GC that finds them
    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(0.5)
    jvm.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = (rt.totalMemory() - rt.freeMemory()) / 2**20
    return heap, host.rss_mb(os.getpid())


def _timed(wl, ctx, plan: list[tuple[str, bool]], tag: str):
    """Run the plan of (kind, traced) operations; returns the operations and
    the window's readings. A traced operation records spans and runs in its
    own Spark job group."""
    import host
    from workloads import Op

    sc = ctx.spark.sparkContext
    ops = []
    load0 = os.getloadavg()
    steal0 = host.cpu_ticks()
    cpu0 = host.tree_cpu_s(os.getpid())
    t0 = time.perf_counter()
    for i, (kind, traced) in enumerate(plan):
        op = Op(op_id=f"{tag}{'t' if traced else ''}-{i:03d}-{kind}", kind=kind, traced=traced)
        ctx.tracer.enabled = traced
        sc.setLocalProperty("spark.jobGroup.id", op.op_id if traced else None)
        a = time.perf_counter()
        try:
            with ctx.tracer.span("op", op=op.op_id):
                op.result = wl.run(ctx, op)
            op.seconds = time.perf_counter() - a
            op.ok = wl.check(ctx, op)
            if not op.ok:
                op.error = "output differs from the reference"
        except Exception as exc:  # counted as a failed operation, never dropped
            op.seconds = time.perf_counter() - a
            op.error = repr(exc)[:500]
        ops.append(op)
    wall = time.perf_counter() - t0
    ctx.tracer.enabled = False
    sc.setLocalProperty("spark.jobGroup.id", None)
    window = {
        "wall_s": wall,
        "cpu_s": host.tree_cpu_s(os.getpid()) - cpu0,
        "steal_share": host.steal_share(steal0, host.cpu_ticks()),
        "loadavg_start": load0,
        "loadavg_end": os.getloadavg(),
    }
    return ops, window


def _end_to_end(ops, window, setup_s: float, retained: tuple[float, float]) -> dict[str, float]:
    lat = [op.seconds for op in ops]
    return {
        "latency_p50_s": statistics.median(lat),
        "ops_per_s": len(ops) / window["wall_s"],
        "cpu_s_per_op": window["cpu_s"] / len(ops),
        "retained_mb": sum(retained),
        "setup_s": setup_s,
    }


def run(args) -> tuple[dict, dict]:
    import host

    run_dir = args.run_dir
    calibrate_s = host.calibrate()
    paths = _isolate(run_dir)
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS, HEAVY_ENTRIES, Ctx

    data_dir = os.path.join(run_dir, "data")
    refs = _prepare(args.workload, args.seed, args.size, data_dir, ",".join(HEAVY_ENTRIES))

    from spans import StreamProgress, Tracer, spark_jobs

    wl = WORKLOADS[args.workload]()
    smoke = args.size == "smoke"
    seq = wl.sequence(args.seed, smoke)
    traced = bool(args.trace)

    extra = {
        # the JVM's own temp files and the streams' checkpoints stay in the run dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={paths['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.streaming.checkpointLocation": os.path.join(run_dir, "checkpoints"),
    }
    if traced:
        # keep every job and stage of the traced operations in the status store
        extra.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})

    t0 = time.perf_counter()
    from lrmr_spark import get_spark

    spark = get_spark(f"perfbench-{args.workload}", extra_conf=extra)
    try:
        start_s = time.perf_counter() - t0
        ctx = Ctx(spark=spark, data_dir=data_dir, refs=refs, tracer=Tracer())
        warm_plan = [(k, False) for k in wl.kinds] * (1 if smoke else wl.warmup_passes)
        warm, _ = _timed(wl, ctx, warm_plan, "w")
        setup_s = time.perf_counter() - t0

        if traced:
            # each operation once untraced and once traced, the order
            # alternating, so warming up as the run goes on favours neither
            ctx.progress = StreamProgress()
            spark.streams.addListener(ctx.progress)
            plan = [(k, t) for i, k in enumerate(seq) for t in ((i % 2 == 1), (i % 2 == 0))]
            ops, window = _timed(wl, ctx, plan, "p")
            traced_ops = [op for op in ops if op.traced]
            jobs = spark_jobs(spark, wl.groups(ctx, traced_ops))
            untraced_s = sum(op.seconds for op in ops if not op.traced)
            traced_s = sum(op.seconds for op in traced_ops)
            metrics = {name: 0.0 for name in PER_LAYER}
            metrics.update(
                {
                    "session.start_s": start_s,
                    "session.warmup_s": setup_s - start_s,
                    "session.jvm_peak_rss_mb": host.peak_rss_mb(host.java_pid(os.getpid()) or 0),
                    "tables.load_s": sum(s.seconds for s in ctx.tracer.by_name("tables.load")),
                    "pipeline.build_s": sum(s.seconds for s in ctx.tracer.by_name("pipeline.build")),
                    "trace.untraced_s": untraced_s,
                    "trace.traced_s": traced_s,
                    "trace.overhead_pct": 100 * (traced_s / untraced_s - 1),
                }
            )
            metrics.update(wl.layer_metrics(ctx, traced_ops, jobs))
            spark.streams.removeListener(ctx.progress)
        else:
            ops, window = _timed(wl, ctx, [(k, False) for k in seq], "t")
            retained = _retained_mb(spark)
            metrics = _end_to_end(ops, window, setup_s, retained)

        wl.finish(ctx, warm + ops)
    finally:
        _stop_engine(spark)

    failed = [op for op in ops if not op.ok]
    warm_failed = [op for op in warm if not op.ok]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "seconds": args.seconds,
        "operations": len(ops),
        "error_rate": len(failed) / len(ops),
        "failures": [(op.op_id, op.error) for op in (warm_failed + failed)[:10]],
        "latency_by_kind_s": {
            k: statistics.median(op.seconds for op in ops if op.kind == k) for k in wl.kinds
        },
        "setup": {"start_s": start_s, "warmup_s": setup_s - start_s},
        "host": {
            "calibrate_s": calibrate_s,
            "steal_share": window["steal_share"],
            "loadavg_start": window["loadavg_start"],
            "loadavg_end": window["loadavg_end"],
            "nproc": os.cpu_count(),
            "engine_cpus": int(CPUS),
        },
    }
    if traced:
        detail["spans"] = ctx.tracer.dump()
    else:
        detail["retained"] = {"jvm_heap_mb": retained[0], "python_rss_mb": retained[1]}
    units = PER_LAYER if traced else END_TO_END
    result = {
        "correct": not failed and not warm_failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return detail, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + PART_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "lrmr_spark", "__init__.py")):
        print(f"perfbench: no engine sources (lrmr_spark/) under {ROOT}", file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    base = os.path.join(ROOT, ".perfbench-run")
    args.run_dir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(args.run_dir)
    timer = threading.Timer(DEADLINE_S, _watchdog, args=(args.run_dir,))
    timer.daemon = True
    timer.start()
    try:
        detail, result = run(args)
    finally:
        timer.cancel()
        shutil.rmtree(args.run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
