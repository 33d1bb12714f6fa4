"""Machine-load record for one run: loadavg, /proc/stat shares, a fixed probe.

These numbers are context only. The benchmark records them next to every
run and never drops, reweights or rescales a run because of them.
"""

from __future__ import annotations

import os
import time


def cpu_ticks() -> tuple[int, int, int]:
    """(total, idle incl. iowait, steal) jiffies summed over all CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    idle = fields[3] + (fields[4] if len(fields) > 4 else 0)
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted in user/nice
    return sum(fields[:8]), idle, steal


def probe_ms() -> float:
    """Time a fixed, single-threaded pure-Python workload (about 20 ms on an
    idle core): when it reads slow, the run shared its CPUs."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += (i * i) % 7
    return (time.perf_counter() - t0) * 1000.0


class LoadRecord:
    """Snapshot at the start of a run; :meth:`finish` gives the shares."""

    def __init__(self) -> None:
        self.probe_before = probe_ms()
        self.load_before = os.getloadavg()[0]
        self.ticks = cpu_ticks()

    def finish(self) -> dict[str, float]:
        total0, idle0, steal0 = self.ticks
        total1, idle1, steal1 = cpu_ticks()
        span = max(1, total1 - total0)
        return {
            "host.loadavg1": max(self.load_before, os.getloadavg()[0]),
            "host.steal_frac": (steal1 - steal0) / span,
            "host.busy_frac": 1.0 - (idle1 - idle0) / span,
            "host.probe_ms": self.probe_before,
            "host.probe_after_ms": probe_ms(),
        }


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of process ``pid`` (all its threads)."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as f:
        # the command name may hold spaces; the fields after ')' are fixed
        rest = f.read().rsplit(")", 1)[1].split()
    return (int(rest[11]) + int(rest[12])) / os.sysconf("SC_CLK_TCK")
