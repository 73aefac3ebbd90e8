"""Host telemetry read from /proc: CPU busy/steal core-seconds, a fixed
CPU calibration probe, and peak resident memory of a process tree."""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> tuple[float, float]:
    """(busy, steal) core-seconds since boot, summed over all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = vals[:8]
    busy = user + nice + system + irq + softirq
    return busy / _HZ, steal / _HZ


class CpuWindow:
    """Busy and steal core-seconds over a wall-clock window."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.busy0, self.steal0 = cpu_seconds()

    def read(self) -> dict:
        wall = time.perf_counter() - self.t0
        busy, steal = cpu_seconds()
        steal_s = steal - self.steal0
        return {"busy_core_s": busy - self.busy0,
                "steal_pct": 100.0 * steal_s / max(wall * os.cpu_count(),
                                                   1e-9)}


def calibrate(n: int = 1_000_000) -> float:
    """Seconds for a fixed single-core integer loop: a slower reading
    than usual means the host, not the program, got slower."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def _children() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(root: int) -> list:
    """``root`` and every process below it."""
    kids, todo, out = _children(), [root], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_mb(root: int) -> float:
    """Resident MB of ``root`` and all its descendants."""
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total / 1e6


class PeakRss:
    """Background sampler of a process tree's resident memory."""

    def __init__(self, root: int, every_s: float = 0.25):
        self.root, self.every_s, self.peak = root, every_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(self.root))
            self._stop.wait(self.every_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
