"""Process-tree accounting from ``/proc`` (no psutil).

A benchmark process and everything it spawns (the JVM, Python
workers) share one process group, so the tree is "every pid whose
group id is the leader's pid".
"""

from __future__ import annotations

import os

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended while we looked
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def group_pids(pgid: int) -> list[int]:
    """Live members of a process group (zombies have already ended)."""
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(name)
            if fields is not None and int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(name))
    return pids


def group_rss_bytes(pgid: int) -> int:
    total = 0
    for pid in group_pids(pgid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def group_cpu_seconds(pgid: int) -> float:
    """User + system CPU of the live group members, including reaped
    children (a Python worker forked by the daemon is charged to it)."""
    ticks = 0
    for pid in group_pids(pgid):
        fields = _stat_fields(str(pid))
        if fields is not None:
            # utime, stime, cutime, cstime: fields 14-17 of stat
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK
