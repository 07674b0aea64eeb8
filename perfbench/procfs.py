"""Process and host counters read from /proc (Linux)."""

from __future__ import annotations

import os
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size of a process, MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tree_cpu_s(root: int | None = None) -> float:
    """User plus system CPU seconds of a process and all its descendants,
    including descendants that already exited and were reaped. Unlike
    wall time this leaves out time the host stole, though it still grows
    somewhat while other tenants share the cores."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        kids[int(fields[1])].append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / _TICK


def host_cpu() -> tuple[int, int]:
    """(steal ticks, all ticks) summed over the host's CPUs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)
