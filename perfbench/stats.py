"""Summary statistics and process probes for the benchmark."""

from __future__ import annotations

import math
import os
import statistics
from typing import Optional, Sequence


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values)) if values else math.nan


def tail(values: Sequence[float], beyond: int = 10) -> Optional[dict]:
    """The highest percentile of ``values`` that still has at least
    ``beyond`` samples above it.

    For n sorted samples that is the sample at 0-based rank
    ``n - 1 - beyond``: exactly ``beyond`` samples lie above it. Its
    percentile is the share of samples at or below it. ``None`` when
    there are too few samples for any such percentile."""
    n = len(values)
    if n <= beyond:
        return None
    rank = n - 1 - beyond
    return {
        "value": float(sorted(values)[rank]),
        "pct": round(100.0 * (rank + 1) / n, 1),
        "n": n,
        "beyond": beyond,
    }


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def self_peak_rss_mb() -> float:
    return peak_rss_mb(os.getpid())


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU time used so far by ``root`` and every live
    descendant, plus what their reaped children used.

    The difference of two readings is the CPU the tree spent between
    them: a child that exits in between moves its whole time into its
    parent's reaped-children count. Time the hypervisor stole from the
    virtual CPUs is accounted apart (the ``steal`` column of
    /proc/stat), so it is not in these counts."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we listed it
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(ticks the hypervisor stole, all ticks) over every CPU since
    boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])
