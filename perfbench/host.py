"""Host and process readings from /proc (Linux): process-tree CPU time,
resident memory, CPU steal and a fixed CPU calibrator. None of these touch
the engine."""

from __future__ import annotations

import hashlib
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone. The name is parenthesised and may hold spaces."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pids: set[int]) -> list[int]:
    """The pids that still run (zombies count as ended)."""
    out = []
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None and fields[0] != "Z":
            out.append(pid)
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and its live descendants,
    including the time of children they have already reaped (cutime/cstime),
    so workers that exit during a measurement still count."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmRSS") / 1024


def peak_rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmHWM") / 1024


def java_pid(root: int) -> int | None:
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # guest time is already folded into user/nice
    total = sum(vals[:8])
    return vals[7], total


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[1] - before[1]
    return (after[0] - before[0]) / dt if dt > 0 else 0.0


def calibrate() -> float:
    """Seconds for a fixed amount of single-threaded hashing. It varies with
    the host, not with the engine, so a slow reading marks a slow window."""
    buf = b"perfbench" * 1024
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(24_000):
        h.update(buf)
    total = sum(i * i for i in range(1_200_000))
    t = time.perf_counter() - t0
    if not h.digest() or total <= 0:
        raise RuntimeError("calibrator produced no work")
    return t
