"""Process trees from ``/proc``: CPU time of a process and everything it
started, and the processes to stop when a run ends.

A tree is followed by parent pid, not by process group: PySpark's Python
daemon puts itself and the pandas-UDF workers it forks into a process
group of their own, so a group would miss them.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _table() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds). The CPU time is user plus system
    time of the process and of the children it has reaped; a zombie still
    reports its own."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # pid (comm) state ppid ...; comm may hold spaces
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        cpu = sum(int(x) for x in f[11:15]) / _TICK  # utime stime cutime cstime
        out[int(name)] = (int(f[1]), cpu)
    return out


def tree(root: int, table: dict | None = None) -> list[int]:
    """``root`` and all its descendants that are still in the table."""
    table = table if table is not None else _table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants. A
    child's time moves into its parent's reaped-children time when it is
    waited for, so the sum only grows. Time the hypervisor gave to other
    guests (steal) is not in it."""
    table = _table()
    return sum(table[pid][1] for pid in tree(os.getpid(), table))
