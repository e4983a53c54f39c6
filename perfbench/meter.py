"""Host-side meters read from /proc: process-tree CPU and RSS, steal
time, a fixed-work capacity probe, and the host sizing the benchmark
derives its Spark session from.

The process tree is this Python driver plus every descendant: the Spark
JVM and the Python workers it forks. Nothing here touches Spark.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def driver_heap_mb() -> int:
    """Driver heap for a local-mode session: a sixth of MemAvailable,
    clamped to [1 GiB, 2 GiB]. Every workload here fits in 1 GiB; the
    cap keeps the JVM from claiming memory the host's other tenants
    need."""
    with open("/proc/meminfo") as f:
        info = {ln.split(":")[0]: int(ln.split()[1]) for ln in f}
    avail_mb = info.get("MemAvailable", info["MemTotal"]) // 1024
    return max(1024, min(2048, avail_mb // 6))


def _procs() -> dict[int, tuple[int, float, int]]:
    """pid -> (parent pid, cpu seconds, rss bytes) for every live process.
    CPU includes reaped children (cutime + cstime)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # comm may contain spaces or parentheses: split after the last ')'
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        cpu = sum(int(x) for x in rest[11:15]) / _TICK
        out[int(name)] = (int(rest[1]), cpu, int(rest[21]) * _PAGE)
    return out


def _tree(procs: dict) -> list[int]:
    """This process first, then its live descendants."""
    out, frontier = [], {os.getpid()}
    while frontier:
        out.extend(frontier)
        frontier = {p for p, v in procs.items() if v[0] in frontier}
    return out


def _tree_stats() -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over the process tree."""
    procs = _procs()
    tree = [procs[p] for p in _tree(procs) if p in procs]
    return sum(v[1] for v in tree), sum(v[2] for v in tree)


def tree_cpu_s() -> float:
    return _tree_stats()[0]


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    return _tree(_procs())[1:]


def steal_s() -> float:
    """Host-wide hypervisor steal seconds since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def capacity_probe_s(n: int = 4_000_000) -> float:
    """Fixed single-thread work (splitmix64 over ``n`` lanes), best of
    three. A slow job next to a slow probe is a slow host, not slow
    code."""
    import numpy as np

    x = np.arange(n, dtype=np.uint64)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        with np.errstate(over="ignore"):
            y = x ^ (x >> np.uint64(30))
            y *= np.uint64(0xBF58476D1CE4E5B9)
            y ^= y >> np.uint64(27)
            y *= np.uint64(0x94D049BB133111EB)
            y ^= y >> np.uint64(31)
        best = min(best, time.perf_counter() - t0)
    return best


class JobMeter:
    """Wall, tree CPU, peak tree RSS and steal over one ``with`` block.
    A daemon thread samples RSS every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.wall = self.cpu = self.steal = 0.0
        self.peak_rss = 0
        self._stop = threading.Event()

    def _sample(self):
        while not self._stop.wait(self.interval):
            self.peak_rss = max(self.peak_rss, _tree_stats()[1])

    def __enter__(self):
        cpu, rss = _tree_stats()
        self._cpu0, self.peak_rss = cpu, rss
        self._steal0 = steal_s()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        self._stop.set()
        self._thread.join(timeout=5)
        cpu, rss = _tree_stats()
        self.cpu = cpu - self._cpu0
        self.peak_rss = max(self.peak_rss, rss)
        self.steal = steal_s() - self._steal0
        return False
