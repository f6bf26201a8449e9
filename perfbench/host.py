"""Host conditions around a run, logged next to its timings.

The benchmark shares its machine with other tenants, and its timings
move with them. Each run logs, to stderr, what the host did meanwhile:
the share of CPU time the hypervisor gave to others (steal), the idle
share, the load average, and the time of a fixed single-threaded
Python loop (a host-speed probe) before and after the run. A slow run
with high steal or a slow probe was slowed by the host, not by the
engine. None of these figures enters a metric.
"""

from __future__ import annotations

import os
import time


def _cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def probe_s(reps: int = 3) -> float:
    """Median time of a fixed pure-Python loop, in seconds."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t)
    return sorted(times)[reps // 2]


class HostWindow:
    """CPU-tick deltas and probe times over one window of the run."""

    def start(self) -> HostWindow:
        self.probe_before = probe_s()
        self.load1 = os.getloadavg()[0]
        self._t0 = _cpu_ticks()
        return self

    def stop(self) -> dict[str, float]:
        d = [b - a for a, b in zip(self._t0, _cpu_ticks())]
        total = max(1, sum(d[:8]))
        return {
            "steal_share": d[7] / total,
            "idle_share": (d[3] + d[4]) / total,
            "load1_at_start": self.load1,
            "probe_before_ms": 1e3 * self.probe_before,
            "probe_after_ms": 1e3 * probe_s(),
        }
