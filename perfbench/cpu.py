"""CPU time of the benchmark's process tree, read from /proc.

Wall time on a shared host moves with the load of other tenants: a
vCPU that the hypervisor gives to another guest makes every query
wait. The kernel books that time as steal, not to the task that was
waiting, so the CPU time a query's processes use moves much less.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, int] | None:
    """(parent pid, user + system ticks of the process and its reaped
    children), or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (this process by default)
    and all its live descendants: here the client, the JVM, and the
    Python daemon and workers the JVM starts."""
    root = os.getpid() if root is None else root
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(d)
            if st is not None:
                procs[int(d)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / _TICK


def host_ticks() -> tuple[int, int]:
    """(all ticks, steal ticks) of the host's CPUs so far."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks[:8]), ticks[7]
