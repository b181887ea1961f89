"""Process-tree and host counters read from /proc.

* :func:`tree_cpu_s` — CPU seconds (user + system, with reaped children)
  of a process and all its live descendants: the Spark driver JVM, the
  Python driver and the Python workers of one run.  Time the hypervisor
  steals from the VM's vCPUs is accounted as steal, not to a process,
  so this figure does not grow when the host is co-loaded, unlike a
  wall time.
* :func:`host_cpu_s` — the host's cumulative busy, idle and steal
  seconds over all its CPUs, from the first line of /proc/stat.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def stat(pid: int):
    """(ppid, starttime, cpu ticks incl. reaped children) of one process,
    or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
        return int(rest[1]), rest[19], sum(int(x) for x in rest[11:15])
    except (OSError, IndexError, ValueError):
        return None


def tree(root: int) -> dict[int, tuple]:
    """``stat`` of ``root`` and every live descendant, by pid."""
    stats, children = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = stat(int(d))
            if st:
                stats[int(d)] = st
                children.setdefault(st[0], []).append(int(d))
    out, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in stats:
            out[p] = stats[p]
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root``'s process tree so far.  A worker that has
    exited and been reaped counts through its parent's children times."""
    return sum(st[2] for st in tree(root).values()) / TICK


def host_cpu_s() -> dict[str, float]:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    return {"busy_s": (v[0] + v[1] + v[2] + v[5] + v[6]) / TICK,
            "idle_s": (v[3] + v[4]) / TICK, "steal_s": v[7] / TICK}
