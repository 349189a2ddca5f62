"""What the run ran on: a fixed-matmul calibration, load average,
versions, and the peak resident memory of the benchmark's process tree."""

from __future__ import annotations

import os
import platform
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def calibration_s(reps: int = 5) -> float:
    """Best of ``reps`` timings of one fixed 512x512 float64 matmul: a
    box that reads slower than usual is contended."""
    a = np.random.default_rng(0).random((512, 512))
    best = float("inf")
    for _ in range(reps):
        t = time.perf_counter()
        a @ a
        best = min(best, time.perf_counter() - t)
    return best


def snapshot() -> dict:
    return {"calibration_s": calibration_s(), "loadavg": list(os.getloadavg())}


def versions() -> dict:
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": np.__version__,
        "nproc": cores(),
    }


def descendants(root: int) -> set[int]:
    """Pids of every live process below ``root``."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    found, frontier = set(), [root]
    while frontier:
        for c in kids.get(frontier.pop(), ()):
            if c not in found:
                found.add(c)
                frontier.append(c)
    return found


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    total = 0
    for pid in descendants(root) | {root}:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's summed RSS in a background thread; the
    driver, the JVM it launched and the Python workers are one tree."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(me))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / float(1 << 20)
