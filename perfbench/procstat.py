"""Readers of ``/proc`` for the figures Spark's own metrics do not give:
CPU time of the driver's process tree, peak resident memory, and CPU
time the hypervisor stole from the host.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def stat_fields(path: str) -> list[str]:
    """The fields of a ``/proc/.../stat`` file after the command name,
    which may hold spaces and parentheses and so ends at the last ``)``."""
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and every live process
    below it, all threads, plus what their reaped children used: the
    Python driver, the JVM it launched and any Python workers."""
    parent: dict[int, int] = {}
    fields: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            f = stat_fields(f"/proc/{name}/stat")
        except (OSError, IndexError):
            continue  # exited while listing
        pid = int(name)
        parent[pid], fields[pid] = int(f[1]), f
    ticks = 0
    for pid, f in fields.items():
        p = pid
        while p != root and p in parent and p > 1:
            p = parent[p]
        if p == root:
            ticks += sum(int(v) for v in f[11:15])  # utime, stime, cutime, cstime
    return ticks / TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def host_cpu_ticks() -> tuple[int, int]:
    """(ticks stolen by the hypervisor, all ticks) of the host's CPUs so far."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the host's CPU time stolen between two ``host_cpu_ticks``."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])
