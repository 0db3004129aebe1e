"""Summary statistics and host-condition probes.

The host conditions are recorded in each run's description line for
diagnosis only; no metric is ever adjusted by them.
"""

from __future__ import annotations

import math
import os
import statistics
import time


def tail(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that has at least
    ``beyond`` samples above it: the sample at sorted rank n - beyond - 1.
    None when there are not more than ``beyond`` samples."""
    n = len(values)
    if n <= beyond:
        return None
    ordered = sorted(values)
    return 100.0 * (n - beyond) / n, ordered[n - beyond - 1]


def halves(values: list[float]) -> tuple[float, float]:
    """Medians of the first and the second half of a measured window."""
    mid = len(values) // 2
    first, second = values[:mid] or values, values[mid:] or values
    return statistics.median(first), statistics.median(second)


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return sum(fields[:8]), steal


class HostConditions:
    """Steal fraction over a window, a fixed single-thread CPU probe before
    and after it, and the load average when the run started."""

    def __init__(self):
        self.load = os.getloadavg()
        self.probe_before = cpu_probe()
        self._start = None
        self.steal_frac = None
        self.probe_after = None

    def window_start(self) -> None:
        self._start = _cpu_times()

    def window_end(self) -> None:
        total, steal = _cpu_times()
        t0, s0 = self._start
        self.steal_frac = (steal - s0) / max(1, total - t0)
        self.probe_after = cpu_probe()

    def describe(self) -> str:
        return (f"host: load={self.load[0]:.2f}/{self.load[1]:.2f}/{self.load[2]:.2f}"
                f" steal={self.steal_frac:.4f}"
                f" cpu_probe={self.probe_before * 1e3:.1f}ms->{self.probe_after * 1e3:.1f}ms")


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop, best of three."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t)
    return best


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))
