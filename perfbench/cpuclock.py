"""CPU time of the program: this process and every live descendant (the
Spark JVM and the Python workers it forks), plus the time of descendants
already reaped, less the benchmark's own helper processes.

The gated timings are CPU seconds, not wall seconds.  On a shared host the
wall time of the same pass swings by up to 2x with other tenants' load,
while CPU time does not: the kernel books time the hypervisor gives to
other guests as steal, not to the task, and time spent waiting for a CPU
is not run time.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
# the benchmark's own helper processes, left out of the count
_excluded: set[int] = set()


def exclude(pid: int) -> None:
    _excluded.add(pid)


def _table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks of the process and its reaped
    children) for every process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            # fields from state on: ppid is 1, utime..cstime are 11..14
            out[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return out


def _descendants(table: dict[int, tuple[int, int]], pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, (pp, _) in table.items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        found = kids.get(todo.pop(), [])
        out += found
        todo += found
    return out


def children(pid: int) -> list[int]:
    """All live descendants of ``pid``."""
    return _descendants(_table(), pid)


def cpu_s() -> float:
    """CPU seconds used so far by this process tree."""
    table = _table()
    me = os.getpid()
    return (
        sum(table[p][1] for p in [me] + _descendants(table, me) if p in table and p not in _excluded)
        / _TICK
    )
