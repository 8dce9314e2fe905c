"""CPU time and peak memory of this process and every process it started
(the Spark JVM and its Python workers), read from /proc."""
from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """/proc/<pid>/stat fields from field 3 (state) on; None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def pids() -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(int(name))) is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def cpu_seconds() -> float:
    """User + system time of the tree, including its reaped children."""
    ticks = 0
    for pid in pids():
        if (st := _stat(pid)) is not None:
            ticks += sum(int(x) for x in st[11:15])  # utime, stime, cutime, cstime
    return ticks / _TICK


def peak_rss_mb() -> float:
    """Sum of the peak resident set sizes of the live processes in the tree."""
    kb = 0
    for pid in pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM")), 0)
        except OSError:
            continue
    return kb / 1024
