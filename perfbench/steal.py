"""CPU time the hypervisor stole from this virtual machine, from /proc/stat.

On a shared host a vCPU that wants to run can wait while the host runs
another guest; the guest kernel counts that wait as ``steal``. A query's
latency with the stolen share of its interval removed is what it takes when
the host gives the guest its CPUs, so every timing the benchmark reports is
``wall * (1 - stolen / non-idle)`` over the timed interval.
"""

from __future__ import annotations


def cpu_stat() -> tuple[int, int]:
    """(stolen, non-idle) clock ticks summed over all vCPUs since boot;
    non-idle includes the stolen ticks."""
    with open("/proc/stat") as fh:
        # user nice system idle iowait irq softirq steal
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f) - f[3] - f[4]


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    busy = after[1] - before[1]
    return (after[0] - before[0]) / busy if busy > 0 else 0.0


def unstolen(wall: float, before: tuple[int, int], after: tuple[int, int]) -> float:
    """``wall`` seconds less the stolen share of the interval."""
    return wall * (1.0 - stolen_share(before, after))
