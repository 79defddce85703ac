"""Wall time of a timed region, and the share of it the hypervisor stole.

The benchmark runs on the virtual CPUs of a shared host. When the host is
busy it takes ("steals") time from a virtual CPU that has work to do: the
program's threads on it stop, and the guest kernel counts the lost time in
the ``steal`` column of ``/proc/stat`` instead of as busy time. On a 4-vCPU
machine this moved one workload's operation time by 40-90% within minutes,
while the program and its input stayed the same.

A region's *unstolen* time is its wall time less the share of it that the
machine's CPUs, while they had work, spent stolen:

    steal_share = steal / (busy + steal)
    unstolen_s  = wall_s * (1 - steal_share)

with ``busy`` and ``steal`` the machine-wide CPU time over the region. It
is what the region would have taken with the same CPUs to itself; on an idle
host the two are equal.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_times() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole machine so far."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return (user + nice + system + irq + softirq) / _TICK, steal / _TICK


@dataclass
class Timing:
    wall_s: float
    steal_share: float


class Timer:
    """Times one region: ``t = Timer()`` ... ``timing = t.stop()``."""

    def __init__(self) -> None:
        self.busy0, self.steal0 = cpu_times()
        self.t0 = time.perf_counter()

    def stop(self) -> Timing:
        wall = time.perf_counter() - self.t0
        busy, steal = cpu_times()
        busy, steal = busy - self.busy0, steal - self.steal0
        return Timing(wall, steal / (busy + steal) if busy + steal > 0 else 0.0)
