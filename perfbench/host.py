"""Process-tree and host counters read from /proc (Linux only).

CPU time of the tree rooted at this process covers the driver Python,
the JVM it launches and the JVM's Python worker daemons: each live
process contributes its own user+system time plus that of the children
it has already reaped, so a worker that exits is counted once, by its
parent.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants() -> list[int]:
    """Live processes started (directly or not) by this one."""
    return _tree(os.getpid())[1:]


def tree_cpu_s() -> float:
    total = 0
    for pid in _tree(os.getpid()):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(v) for v in f[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_rss_bytes() -> int:
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


def steal_s() -> float:
    """Host-wide CPU steal since boot, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK


def process_age_s() -> float:
    """Seconds since this process was started (10 ms resolution)."""
    started = int(_stat_fields(os.getpid())[19]) / _TICK  # since boot
    return time.clock_gettime(time.CLOCK_BOOTTIME) - started
