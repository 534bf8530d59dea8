"""Shared host-calibration block for bench/experiment artifacts.

Every artifact that reports timings should self-describe its host
(VERDICT r8 task 8): round hosts differ up to 10× on fsync'd disk
throughput, and shuffle-heavy numbers are incomparable across hosts
without this block. bench.py and ``tools/ab.py entry`` both call
it: loadavg snapshot FIRST (the calibration work itself would inflate
it), then a pinned 20 M-row shuffle (the local-disk shuffle machinery
heavy queries bottleneck on) and a 256 MiB fsync'd sequential write
against spark.local.dir (the spill/shuffle-write device), via a unique
tempfile in try/finally.

Tool scripts run as ``python tools/exp_x.py`` have this directory on
sys.path[0]; ``import hostcal`` resolves directly.
"""

from __future__ import annotations

import os
import tempfile
import time


def host_cal(spark) -> dict:
    """One host-calibration block: {"loadavg", "shuffle_20m_sec",
    "disk_write_mb_s"}. Run it BEFORE the timed workload so the
    loadavg reading brackets the run's start."""
    loadavg = [round(x, 2) for x in os.getloadavg()]
    t0 = time.time()
    (
        spark.range(20_000_000)
        .repartition(32, "id")
        .selectExpr("id % 1000 AS k")
        .groupBy("k")
        .count()
        .count()
    )
    cal_shuffle = round(time.time() - t0, 3)
    cal_dir = spark.conf.get(
        "spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/tmp")
    ).split(",")[0]
    buf = b"\0" * (4 << 20)
    fd, cal_path = tempfile.mkstemp(prefix=".bench_diskcal_", dir=cal_dir)
    try:
        t0 = time.time()
        with os.fdopen(fd, "wb") as f:
            for _ in range(64):  # 256 MiB
                f.write(buf)
            f.flush()
            os.fsync(f.fileno())
        cal_disk = round(256 / max(time.time() - t0, 1e-9), 1)
    finally:
        os.remove(cal_path)
    return {
        "loadavg": loadavg,
        "shuffle_20m_sec": cal_shuffle,
        "disk_write_mb_s": cal_disk,
    }
