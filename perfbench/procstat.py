"""CPU seconds and memory of a process tree, read from ``/proc``.

A tree's CPU is the sum, over its live processes, of user and system time
plus the time of children each one has already reaped (``cutime`` and
``cstime``), so Python workers that exit between two readings still count.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")


def _table() -> dict[int, tuple[int, str, float]]:
    """``{pid: (ppid, comm, cpu seconds incl. reaped children)}``."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # comm may hold spaces; it ends at the last ')'
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])
        out[int(name)] = (int(fields[1]), comm, ticks / TICK)
    return out


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = _table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


class TreeCpu:
    """CPU readings for the tree rooted at ``root``: all of it, and the
    Python workers under the JVM."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    def read(self) -> tuple[float, float]:
        table = _table()
        tree = descendants(self.root, table)
        total = sum(table[p][2] for p in tree if p in table)
        workers = 0.0
        for jvm in (p for p in tree if p in table and table[p][1] == "java"):
            workers += sum(
                table[p][2]
                for p in descendants(jvm, table)
                if p in table and table[p][1].startswith("python")
            )
        return total, workers

    def jvm_pid(self) -> int | None:
        table = _table()
        for p in descendants(self.root, table):
            if p in table and table[p][1] == "java":
                return p
        return None


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
